"""The workloads. Each one builds its inputs from the seed, sets the
engine up through its public functions, and then runs a fixed, seeded
sequence of rounds; a round interleaves the workload's op types. Every
op's output is checked against an independent reference.

A workload exposes:

* ``setup(ctx)`` -> ``(rows made searchable, build seconds)``
* ``round(ctx, rng)`` runs one round of ops through ``ctx.op``
* ``reset_quality()`` after warm-up, ``quality()`` -> {name: ratio}; the
  reported ``quality`` is the lowest of those ratios, so a drop in any
  one of them reaches it undiluted
* ``live_bytes()`` (index workloads): bytes of the live vectors
* ``read_op``: the op type whose latency is reported as ``read.p50_s``
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

from fixtures import N_NATIONS, SEGMENTS, clustered_vectors, unit, unit_centers, write_catalog
import reference as ref

DIM = 64


class CampaignQuery:
    """Paper read path: similar-campaign recommendation with audience count,
    and natural-language targeting, over the ingested vector tables."""

    name = "campaign_query"
    read_op = "recommend"
    nominal_round_s = 5.5
    warmup_rounds = 1

    def setup(self, ctx) -> tuple[int, float]:
        from vector_search_spark.pipelines import build_campaign_vectors, build_condition_vectors

        self.sf_dir = os.path.join(ctx.work, "catalog")
        write_catalog(self.sf_dir, ctx.seed)
        camp_out = os.path.join(ctx.work, "camp_vec")
        cond_out = os.path.join(ctx.work, "cond_vec")
        with ctx.layer("ingest") as t:
            self.camp = build_campaign_vectors(ctx.spark, self.sf_dir, out_path=camp_out)
            self.cond = build_condition_vectors(ctx.spark, self.sf_dir, out_path=cond_out)
        self.camp_ref = ref.load_vectors(camp_out, "camp_id", "embedding")
        self.cond_ref = ref.load_vectors(
            cond_out, "cond_id", "cond_vec",
            ("cond_nm", "column_nm", "table_nm", "code", "code_nm", "cond_type"),
        )
        rows = len(self.camp_ref["ids"]) + len(self.cond_ref["ids"])
        ctx.note_ingest(rows, [camp_out, cond_out])
        self.oracle = ref.AudienceOracle(self.sf_dir)
        self.llm, self.embedder = ctx.clients()
        self.checks = []
        return rows, t.wall

    def close(self) -> None:
        self.oracle.close()

    # -- ops -------------------------------------------------------------
    def round(self, ctx, rng) -> None:
        from vector_search_spark.llm.clients import FakeEmbeddingClient, FakeLLMClient
        from vector_search_spark.pipelines import nl_targeting_conditions, recommend_similar_and_count

        query = (
            f"{SEGMENTS[rng.integers(5)]} 고객 NATION_{rng.integers(N_NATIONS)} "
            f"캠페인 q{rng.integers(10**6)}"
        )

        def recommend():
            r = recommend_similar_and_count(
                ctx.spark, self.sf_dir, query, llm=self.llm, embedder=self.embedder,
                campaign_vectors=self.camp,
            )
            top = [(int(x.camp_id), float(x.match_pct)) for x in r["recommendations"].collect()]
            return top, int(r["audience_count"].collect()[0][0]), r["audience_sql"]

        def check_recommend(out) -> bool:
            top, count, sql = out
            probes = np.asarray(
                FakeEmbeddingClient().embed_batch(FakeLLMClient().expand_query(query, 5)),
                dtype=np.float32,
            )
            want = ref.multiprobe_fusion(self.camp_ref["ids"], self.camp_ref["vecs"], probes)
            got, want = dict(top), dict(want)  # ties in the rounded pct may swap order
            ok = len(top) == len(want) and got.keys() == want.keys() and all(
                abs(got[i] - want[i]) <= 0.011 for i in want
            )
            oracle = self.oracle.count(sql)
            if not ok or count != oracle:
                print(f"recommend {query!r}: top {got} want {want}; count {count} want {oracle}",
                      file=sys.stderr)
            return self._tally(ok and count == oracle)

        ctx.op("recommend", recommend, check_recommend)

        keywords = self._keywords(rng)
        text = " ".join(
            ("not_" if k["polarity"] == "부정" else "") + f"{k['attr']}={k['value']}" for k in keywords
        )

        def targeting():
            df = nl_targeting_conditions(
                ctx.spark, self.sf_dir, text, llm=self.llm, embedder=self.embedder,
                condition_vectors=self.cond,
            )
            return sorted(
                (r.cond_nm, r.column_nm, r.table_nm, r.code, r.code_nm, r.cond_type,
                 float(r.max_score), r.op_expr)
                for r in df.collect()
            )

        def check_targeting(got) -> bool:
            probes = np.asarray(
                FakeEmbeddingClient().embed_batch(
                    [f"{k['attr']} {k['value']} 검색 문장 0" for k in keywords]
                ),
                dtype=np.float32,
            )
            want = ref.threshold_targeting(
                self.cond_ref, keywords, probes, 0.5, FakeLLMClient().normalize_operator
            )
            ok = bool(want) and len(got) == len(want) and all(
                g[:6] == w[:6] and g[7] == w[7] and abs(g[6] - w[6]) <= 2e-6
                for g, w in zip(got, want)
            )
            if not ok:
                print(f"targeting {text!r}: got {got} want {want}", file=sys.stderr)
            return self._tally(ok)

        ctx.op("targeting", targeting, check_targeting)

    @staticmethod
    def _keywords(rng) -> list[dict]:
        """2-3 positive keywords from the real condition catalog plus one
        negative; the negative removes one positive half of the time, so
        the answer is never empty and set subtraction is exercised."""
        pos = [{"attr": "세그먼트", "polarity": "긍정", "value": SEGMENTS[rng.integers(5)]}]
        nations = rng.choice(N_NATIONS, size=int(rng.integers(1, 3)), replace=False)
        pos += [{"attr": "국가", "polarity": "긍정", "value": f"NATION_{n}"} for n in nations]
        if rng.random() < 0.5:
            dead = pos[int(rng.integers(len(pos)))]
            neg_attr, neg_value = dead["attr"], dead["value"]
            if len(pos) == 1:
                neg_attr, neg_value = "국가", f"NATION_{rng.integers(N_NATIONS)}"
        else:
            neg_attr, neg_value = "국가", f"NATION_{rng.integers(N_NATIONS)}"
        return pos + [{"attr": neg_attr, "polarity": "부정", "value": neg_value}]

    def _tally(self, ok: bool) -> bool:
        self.checks.append(ok)
        return ok

    def reset_quality(self) -> None:
        self.checks = []

    def quality(self) -> dict:
        return {"ops_correct": sum(self.checks) / len(self.checks)}


class GraphFamily:
    """Durable mutable graph index behind ``VectorIndexService``.

    Set-up opens ``n0 + retire`` rows and deletes ``retire`` of them in one
    batch, leaving the index with churn already booked, as a service that
    has been running a while has. Deletes and inserts of ``batch`` rows then
    alternate, and the maintainer's 0.5 churn policy compacts on the delete
    that opens the first measured round, in every run; later deletes do not."""

    n0 = 2_000
    # churn after the warm-up round (880 + 80) / 2000 = 0.48; the measured
    # delete takes it to 1000 / 1960 = 0.51
    retire = 880
    batch = 40
    probes = 64
    k = 10
    compact_frac = 0.5  # GraphMaintainer's default policy

    def setup(self, ctx, rng) -> tuple[int, float]:
        from vector_search_spark.operators.index_service import VectorIndexService

        self.centers = unit_centers(rng, 40, DIM)
        self.spread = 0.06

        n_open = self.n0 + self.retire
        vecs = clustered_vectors(rng, n_open, DIM, self.centers, self.spread)
        self.live = dict(enumerate(vecs))
        self.next_id = n_open
        state_dir = os.path.join(ctx.work, "graph_state")
        corpus = _vec_df(ctx.spark, list(self.live), vecs, "vec_id", "embedding")
        with ctx.layer("index.build") as t:
            self.svc = VectorIndexService.open(
                corpus, dim=DIM, mutable=True, state_dir=state_dir, k=self.k
            )
        ctx.watch_state(state_dir)
        self._n, self._churned = n_open, 0
        self.recall = []
        return n_open, t.wall

    def live_bytes(self) -> int:
        return len(self.live) * DIM * 4

    def _expect_churn(self, delta_n: int) -> float:
        """The churn fraction the maintainer must report after a batch."""
        self._n += delta_n
        self._churned += abs(delta_n)
        if self._churned / self._n >= self.compact_frac:
            self._churned = 0
        return self._churned / self._n

    def insert(self, ctx, rng) -> None:
        new = clustered_vectors(rng, self.batch, DIM, self.centers, self.spread)
        ids = range(self.next_id, self.next_id + self.batch)
        self.next_id += self.batch
        df = _vec_df(ctx.spark, list(ids), new, "vec_id", "embedding")
        want = self._expect_churn(self.batch)
        ctx.op(
            "insert", lambda: self.svc.insert(df),
            lambda _: abs(self.svc.churn_frac - want) < 1e-12, rows=self.batch,
        )
        self.live.update(zip(ids, new))

    def delete(self, ctx, rng, n: int | None = None) -> None:
        n = n or self.batch
        dead = rng.choice(np.fromiter(self.live, dtype=np.int64), n, replace=False)
        df = ctx.spark.createDataFrame(pd.DataFrame({"vec_id": dead}))
        want = self._expect_churn(-n)
        ctx.op(
            "delete", lambda: self.svc.delete(df),
            lambda _: abs(self.svc.churn_frac - want) < 1e-12, rows=n,
        )
        for i in dead.tolist():
            del self.live[i]

    def serve(self, ctx, rng) -> None:
        probes = clustered_vectors(rng, self.probes, DIM, self.centers, self.spread)
        df = _vec_df(ctx.spark, list(range(self.probes)), probes, "probe_id", "probe_vec")

        def serve():
            return [(r.probe_id, r.vec_id, r.score) for r in self.svc.serve(df).collect()]

        def check(rows) -> bool:
            live_ids = np.fromiter(self.live, dtype=np.int64)
            truth = ref.exact_topk(
                live_ids, np.stack([self.live[i] for i in live_ids.tolist()]), probes, self.k
            )
            got: dict[int, list] = {p: [] for p in range(self.probes)}
            for p, v, s in rows:
                got.setdefault(p, []).append((v, s))
            ok = len(got) == self.probes
            for p, hits in got.items():
                ids = [v for v, _ in hits]
                valid = (
                    0 < len(ids) <= self.k
                    and len(set(ids)) == len(ids)
                    and set(ids) <= self.live.keys()
                )
                if valid:
                    exact = ref.cosine(probes[p : p + 1], np.stack([self.live[v] for v in ids]))[0]
                    valid = all(abs(s - e) <= 1e-6 for (_, s), e in zip(hits, exact))
                ok &= valid
                self.recall.append(len(set(ids) & truth[p]) / self.k)
            return ok

        ctx.op("serve", serve, check)


class DedupFamily:
    """Persisted embedding near-duplicate index: each delivery is probed
    against everything admitted so far and then admitted; every second
    admit also compacts the deltas into a new base generation."""

    n0 = 10_000
    delivery = 200
    planted_frac = 0.2
    noise = 0.012  # planted copies sit at cosine ~0.995 from their source
    threshold = 0.9
    compact_every = 2

    def setup(self, ctx, rng) -> tuple[int, float]:
        from vector_search_spark.operators.dedup import embedding_index_write

        self.vecs = unit(rng.standard_normal((self.n0, DIM)))
        self.path = os.path.join(ctx.work, "dedup_index")
        corpus = _vec_df(ctx.spark, list(range(self.n0)), self.vecs, "id", "v")
        with ctx.layer("index.build") as t:
            embedding_index_write(corpus, "v", "id", self.path, dim=DIM)
        ctx.watch_state(self.path)
        self.deliveries = self.gen = 0
        self.found = self.planted = 0
        return self.n0, t.wall

    def live_bytes(self) -> int:
        return len(self.vecs) * DIM * 4

    def probe(self, ctx, rng) -> None:
        """Probe a fresh delivery; 20% of it are near-copies of admitted rows."""
        from vector_search_spark.operators.dedup import embedding_probe_pairs

        n_plant = int(self.delivery * self.planted_frac)
        src = rng.choice(len(self.vecs), n_plant, replace=False)
        batch = unit(rng.standard_normal((self.delivery, DIM)))
        batch[:n_plant] = unit(self.vecs[src] + self.noise * rng.standard_normal((n_plant, DIM)))
        base = len(self.vecs)
        self.pending = (batch, _vec_df(ctx.spark, list(range(base, base + self.delivery)), batch, "id", "v"))
        df = self.pending[1]

        def probe():
            return [
                (r.new_id, r.corpus_id, r.cos)
                for r in embedding_probe_pairs(
                    ctx.spark, self.path, df, "v", "id", threshold=self.threshold, dim=DIM
                ).collect()
            ]

        def check(pairs) -> bool:
            cos = ref.cosine(batch, self.vecs)
            seen = set()
            ok = True
            for new_id, cid, c in pairs:
                i = new_id - base
                ok &= 0 <= i < self.delivery and 0 <= cid < base and (new_id, cid) not in seen
                ok = ok and abs(c - cos[i, cid]) <= 1e-6 and c >= self.threshold
                seen.add((new_id, cid))
            self.planted += n_plant
            self.found += sum((base + i, int(s)) in seen for i, s in enumerate(src))
            return ok

        ctx.op("probe", probe, check)

    def admit(self, ctx) -> None:
        """Admit the probed delivery, compacting when it is due."""
        from vector_search_spark.operators.dedup import embedding_index_compact, embedding_index_insert

        batch, df = self.pending
        self.deliveries += 1
        compacts = self.deliveries % self.compact_every == 0

        def admit():
            embedding_index_insert(df, "v", "id", self.path, dim=DIM)
            if compacts:
                with ctx.layer("compact", walk=True):
                    return embedding_index_compact(ctx.spark, self.path)
            return None

        def check(info) -> bool:
            if not compacts:
                return info is None
            self.gen += 1
            return info["gen"] == self.gen and len(info["folded_batches"]) == self.compact_every

        ctx.op("admit", admit, check, rows=self.delivery)
        self.vecs = np.concatenate([self.vecs, batch])


class IndexChurn:
    """Writes beside reads on both durable index families: the mutable
    graph index (delete, insert and serves; the policy compaction
    lands on the delete that opens the first measured round, so every
    measured serve of an untraced run reads the same freshly compacted
    index) and the dedup admission index (probe then admit one delivery;
    the warm-up round admits the first delivery, so the first measured
    admit compacts, and every second one after it). A measured round of
    an untraced run serves ``serves_per_gap`` times after each step, for
    a steadier ``read.p50_s``. Warm-up rounds serve once after each step,
    which is enough to warm the serve path, and so do the rounds of a
    traced run, whose per-op counts need no more samples and which must
    end in time."""

    name = "index_churn"
    read_op = "serve"
    nominal_round_s = 17.0
    serves_per_gap = 3
    warmup_rounds = 1

    def setup(self, ctx) -> tuple[int, float]:
        self.graph, self.dedup = GraphFamily(), DedupFamily()
        rng = np.random.default_rng([ctx.seed, 2])
        g_rows, g_s = self.graph.setup(ctx, rng)
        d_rows, d_s = self.dedup.setup(ctx, np.random.default_rng([ctx.seed, 3]))
        self.graph.delete(ctx, rng, self.graph.retire)
        return g_rows + d_rows, g_s + d_s

    def close(self) -> None:
        pass

    def live_bytes(self) -> int:
        return self.graph.live_bytes() + self.dedup.live_bytes()

    def round(self, ctx, rng) -> None:
        steps = (
            lambda: self.graph.delete(ctx, rng),
            lambda: self.graph.insert(ctx, rng),
            lambda: self.dedup.probe(ctx, rng),
            lambda: self.dedup.admit(ctx),
        )
        serves = self.serves_per_gap if ctx.measuring and ctx.spans is None else 1
        for step in steps:
            step()
            for _ in range(serves):
                self.graph.serve(ctx, rng)

    def reset_quality(self) -> None:
        self.graph.recall = []
        self.dedup.found = self.dedup.planted = 0

    def quality(self) -> dict:
        return {
            "graph.recall_at_10": float(np.mean(self.graph.recall)),
            "dedup.planted_recall": self.dedup.found / self.dedup.planted,
        }


WORKLOADS = {w.name: w for w in (CampaignQuery, IndexChurn)}


def _vec_df(spark, ids, vecs, id_col: str, vec_col: str):
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    schema = StructType(
        [StructField(id_col, LongType()), StructField(vec_col, ArrayType(FloatType()))]
    )
    return spark.createDataFrame(
        pd.DataFrame({id_col: np.asarray(ids, dtype=np.int64), vec_col: list(vecs)}), schema
    )
