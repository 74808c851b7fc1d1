"""Independent answers every measured op is checked against: numpy for the
vector math, DuckDB for the generated audience SQL."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq


def load_vectors(path: str, id_col: str, vec_col: str, columns: tuple = ()) -> dict:
    """Read a vector table the engine wrote; returns ids, float32 matrix
    and any extra columns as lists."""
    t = pq.read_table(path, columns=[id_col, vec_col, *columns])
    out = {c: t.column(c).to_pylist() for c in columns}
    out["ids"] = np.asarray(t.column(id_col).to_pylist())
    out["vecs"] = np.asarray(t.column(vec_col).to_pylist(), dtype=np.float32)
    return out


def cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine matrix of float32 rows, computed in float64."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    num = a @ b.T
    return num / np.outer(np.linalg.norm(a, axis=1), np.linalg.norm(b, axis=1))


def multiprobe_fusion(
    corpus_ids: np.ndarray, corpus: np.ndarray, probes: np.ndarray, k: int = 10, top_n: int = 5
) -> list[tuple[int, float]]:
    """Per-probe exact top-k (score desc, id asc), scores summed per id,
    global top-n: [(id, match_pct)] with match_pct = round(sum / probes * 100, 2)."""
    scores = cosine(probes, corpus)
    fused: dict[int, float] = {}
    for row in scores:
        order = np.lexsort((corpus_ids, -row))[:k]
        for j in order:
            cid = int(corpus_ids[j])
            fused[cid] = fused.get(cid, 0.0) + float(row[j])
    top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
    return [(cid, round(s / len(probes) * 100.0, 2)) for cid, s in top]


def threshold_targeting(
    cond: dict, keywords: list[dict], probe_vecs: np.ndarray, threshold: float, op_expr
) -> list[tuple]:
    """Threshold search + groupwise max per (keyword, condition), then the
    positive set minus the negative (cond_nm, code) pairs.

    Rows: (cond_nm, column_nm, table_nm, code, code_nm, cond_type, max_score, op_expr)."""
    scores = cosine(probe_vecs, cond["vecs"])
    best: dict[tuple, float] = {}
    for p, kw in enumerate(keywords):
        for j in np.nonzero(scores[p] >= threshold)[0]:
            key = (
                p, kw["polarity"], kw["value"],
                cond["cond_nm"][j], cond["column_nm"][j], cond["table_nm"][j],
                cond["code"][j], cond["code_nm"][j], cond["cond_type"][j],
            )
            best[key] = max(best.get(key, -2.0), float(scores[p, j]))
    negatives = {(k[3], k[6]) for k in best if k[1] == "부정"}
    return sorted(
        (*k[3:], round(s, 6), op_expr(k[8], k[2]))
        for k, s in best.items()
        if k[1] == "긍정" and (k[3], k[6]) not in negatives
    )


def exact_topk(live_ids: np.ndarray, live: np.ndarray, probes: np.ndarray, k: int) -> list[set]:
    """Exact top-k id set per probe over the live corpus."""
    scores = cosine(probes, live)
    return [set(live_ids[np.lexsort((live_ids, -row))[:k]].tolist()) for row in scores]


class AudienceOracle:
    """Runs the engine's generated audience SQL on the same parquet files."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for name in ("orders", "customer"):
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
            )

    def count(self, sql: str) -> int:
        return int(self.con.execute(sql).fetchone()[0])

    def close(self) -> None:
        self.con.close()
