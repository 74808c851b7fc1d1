"""IndexLog — the commit protocol of one durable index directory.

Every index the engine persists (the graph delta log of a durable
``GraphMaintainer`` — the one behind the streaming graph ingest too —
the persisted embedding-dedup index and the write-once MinHash dedup
index, which commits bases only) is a base generation plus batch-keyed deltas,
committed through this one class. The reference counterpart is
the mutable ``condition_vec`` store (``nl_targeting_save.py:139-146``):
rows keep arriving in a durable table that is read while it grows.

On-disk layout under the index root::

    _MARKER                 JSON naming the live state (below)
    base-<seq>/             the current base generation
    delta-b<id>-<seq>/      the committed delta of batch <id>

What goes inside a base or delta directory belongs to the family that
writes it. The marker holds::

    {"gen": base generation (0 = first base), "base": dir name,
     "deltas": [[batch id, dir name], ...] sorted by id,
     "seq": last dir sequence number, "next": next free batch id,
     "folded_upto": one past the highest batch id folded into a base,
     "meta": the family's own dict (settings, counters)}

A commit writes its data into a FRESH directory — ``<seq>`` is one past
the marker's, so no commit ever writes into a directory the current
marker names — then replaces the marker with ``os.replace`` (atomic on
POSIX), then removes every ``base-``/``delta-`` directory the new marker
does not name. The crash story follows from that order:

- crash while writing, or after writing but before the swap: the marker
  still names the previous state, so nothing becomes visible; the torn
  directory is garbage the next commit reaps.
- crash after the swap but before GC: the commit holds; the superseded
  directories linger until the next commit reaps them.
- replay of a committed batch id: the new copy lands in a fresh
  directory, the old copy stays visible until the swap replaces the
  marker entry, and GC then leaves exactly one copy.

Batch ids: ``next_batch_id`` is one past every id the log has seen —
committed, folded into a base, or left on disk by a torn write — and
each commit records it in the marker before GC can remove a torn
directory, so an auto-assigned id never repeats. A fold
(``commit_base`` with ``upto``) drops only the deltas below ``upto``:
a caller folds batches whose source has committed and leaves the rest
as deltas.

Single writer per root; readers may run concurrently with a commit and
see either the old or the new state.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Callable

_DELTA_RE = re.compile(r"^delta-b(-?\d+)-\d+$")


class IndexLog:
    """Base generations plus batch-keyed deltas under one root, made
    visible by one atomically replaced marker (layout and crash story
    in the module docstring). ``write`` callbacks receive the fresh
    directory to fill and return the family's new ``meta`` dict, or
    None to keep the current one."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._marker = os.path.join(root, "_MARKER")

    # -- read -----------------------------------------------------------
    def read(self) -> dict | None:
        """The committed marker, or None when no base was ever committed."""
        if not os.path.exists(self._marker):
            return None
        with open(self._marker) as fh:
            return json.load(fh)

    def base(self, m: dict) -> str:
        """Path of the base generation marker ``m`` names."""
        return os.path.join(self.root, m["base"])

    def deltas(
        self, m: dict, below: int | None = None
    ) -> list[tuple[int, str]]:
        """(batch id, path) of the deltas ``m`` names, in id order,
        limited to ids strictly below ``below`` when it is given."""
        return [
            (b, os.path.join(self.root, name))
            for b, name in m["deltas"]
            if below is None or b < below
        ]

    def next_batch_id(self) -> int:
        """One past every batch id committed, folded or left torn."""
        m = self.read()
        seen = [m["next"] if m else 0]
        if os.path.isdir(self.root):
            for d in os.listdir(self.root):
                hit = _DELTA_RE.match(d)
                if hit:
                    seen.append(int(hit.group(1)) + 1)
        return max(seen)

    # -- commit ---------------------------------------------------------
    def commit_base(
        self, write: Callable[[str], dict | None], upto: int | None = None
    ) -> dict:
        """Write a new base generation and make it current. The new
        marker keeps the deltas with id >= ``upto``; ``upto=None`` drops
        every delta (the base replaces them all). Returns the marker."""
        m = self.read()
        seq = 0 if m is None else m["seq"] + 1
        name = f"base-{seq}"
        meta = write(self._fresh(name))
        old = [] if m is None else m["deltas"]
        kept = [e for e in old if upto is not None and e[0] >= upto]
        ends = [e[0] + 1 for e in old if e not in kept]
        return self._swap({
            "gen": 0 if m is None else m["gen"] + 1,
            "base": name,
            "deltas": kept,
            "seq": seq,
            "folded_upto": max([m["folded_upto"] if m else 0] + ends),
            "meta": meta if meta is not None else (m["meta"] if m else {}),
        })

    def commit_delta(
        self, batch_id: int, write: Callable[[str], dict | None]
    ) -> dict:
        """Write batch ``batch_id``'s delta and make it visible,
        replacing any committed delta of the same id (a replay).
        Returns the marker."""
        m = self.read()
        if m is None:
            raise FileNotFoundError(f"no committed base in {self.root}")
        seq = m["seq"] + 1
        name = f"delta-b{batch_id}-{seq}"
        meta = write(self._fresh(name))
        deltas = [e for e in m["deltas"] if e[0] != batch_id]
        return self._swap({
            **m,
            "deltas": sorted(deltas + [[batch_id, name]]),
            "seq": seq,
            "meta": meta if meta is not None else m["meta"],
        })

    # -- internals ------------------------------------------------------
    def _fresh(self, name: str) -> str:
        """An empty directory for a new commit. ``name`` carries a
        sequence number past the marker's, so an existing directory of
        that name is a torn write nothing reads."""
        path = os.path.join(self.root, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _swap(self, m: dict) -> dict:
        """Record the next free batch id (the new directory is already
        on disk, so the scan counts it), replace the marker, then GC."""
        m["next"] = self.next_batch_id()
        tmp = self._marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, self._marker)
        live = {m["base"]} | {name for _, name in m["deltas"]}
        for d in os.listdir(self.root):
            if d.startswith(("base-", "delta-")) and d not in live:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return m
