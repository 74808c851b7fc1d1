"""Dedup-family probe factories (minhash, jaccard, blocking, corpus build).

Each factory takes its source DataFrame(s) (base or replicated) and
returns a zero-arg runner, exactly as the former tools/scale_probe.py
closures did (round-8 split, no behavior change — see SCALING.md probe
citations)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401


def minhash(src):
    from vector_search_spark.operators.dedup import minhash_lsh_pairs

    return lambda: minhash_lsh_pairs(src, "text", "doc_id", 16, 4, 0.5, shingle_n=3).collect()


def jacc_exact(src):
    # explicit exact-everywhere (the Σblock² quadratic class)
    from vector_search_spark.operators.dedup import jaccard_pairs

    return lambda: jaccard_pairs(
        src, "text", "doc_id", ["source", "lang"], 0.2, shingle_n=3,
        max_block_size=None,
    ).collect()


def jacc_default(src):
    # DEFAULT arguments — guard at 1000 engages on the 10x blocks
    from vector_search_spark.operators.dedup import jaccard_pairs

    return lambda: jaccard_pairs(
        src, "text", "doc_id", ["source", "lang"], 0.2, shingle_n=3
    ).collect()


def neardup_exact(src):
    from vector_search_spark.operators.dedup import embedding_neardup_pairs

    return lambda: embedding_neardup_pairs(
        src, "embedding", "vec_id", "label", 0.8, max_block_size=None
    ).collect()


def neardup_default(src):
    from vector_search_spark.operators.dedup import embedding_neardup_pairs

    return lambda: embedding_neardup_pairs(
        src, "embedding", "vec_id", "label", 0.8
    ).collect()


def containment(src):
    # d_containment_pairs shape: same band shuffle as minhash_lsh, plus
    # the two-direction containment re-rank on banded candidates.
    # Salting keeps cross-copy candidates at zero, so candidate count
    # scales with the data, not its square.
    from vector_search_spark.operators.dedup import containment_pairs

    return lambda: containment_pairs(
        src, "text", "doc_id", 16, 4, 0.6, shingle_n=3
    ).collect()


def bloom_decon(src):
    # d_decontaminate_bloom shape: bloom build is O(eval set) and the
    # eval set (doc_id < 20, original ids only) is FIXED across scales
    # while the corpus replicates 10x — the decontamination story at
    # 100 TB. Map-side bit-test prefilter, then exact verify join over
    # the surviving candidates only. Linear class: one corpus shingle
    # pass + a candidate-sized shuffle.
    from vector_search_spark.functions.text import word_shingle_hashes
    from vector_search_spark.operators.dedup import bloom_build, bloom_member
    from vector_search_spark.utils import fan_out

    def run():
        sh = lambda df: df.select(
            "doc_id", F.explode(word_shingle_hashes("text", 3)).alias("h")
        )
        bench = sh(src.filter(F.col("doc_id") < 20)).select("h").distinct()
        bloom_row, m_bits, k = bloom_build(bench, "h")
        corpus = sh(fan_out(src.filter(F.col("doc_id") >= 20)))
        cand = corpus.crossJoin(F.broadcast(bloom_row)).filter(
            bloom_member("h", m_bits, k)
        )
        return (
            cand.join(F.broadcast(bench), "h")
            .groupBy("doc_id")
            .agg(F.countDistinct("h"))
            .count()
        )

    return run


def snm_dedup(src):
    # d_sorted_neighborhood shape: ONE block-key shuffle + in-block
    # sort, window pairing (<=2n candidates regardless of block size),
    # hash-set jaccard verify. Salted copies carry distinct word
    # prefixes -> disjoint 16-char blocks; per-block work constant —
    # linear class.
    from pyspark.sql import Window

    from vector_search_spark.functions.text import word_shingle_hashes

    def run():
        d = src.select(
            "doc_id",
            "n_chars",
            F.lower(F.substring("text", 1, 16)).alias("blk"),
            word_shingle_hashes("text", 3).alias("tk"),
        )
        w = Window.partitionBy("blk").orderBy("n_chars", "doc_id")
        s = d.select(
            "doc_id",
            "tk",
            F.lead("doc_id", 1).over(w).alias("id1"),
            F.lead("tk", 1).over(w).alias("tk1"),
            F.lead("doc_id", 2).over(w).alias("id2"),
            F.lead("tk", 2).over(w).alias("tk2"),
        )
        p1 = s.filter(F.col("id1").isNotNull()).select(
            "tk", F.col("tk1").alias("tkb")
        )
        p2 = s.filter(F.col("id2").isNotNull()).select(
            "tk", F.col("tk2").alias("tkb")
        )
        pr = p1.unionByName(p2).select(
            F.size(F.array_intersect("tk", "tkb")).alias("ni"),
            F.size(F.array_union("tk", "tkb")).alias("nu"),
        )
        return pr.filter(
            (F.col("nu") > 0)
            & (F.col("ni").cast("double") / F.col("nu") >= 0.1)
        ).count()

    return run


def mh_persist(src):
    # d_minhash_persist_incr shape: corpus index written once (this IS
    # the build job, so it scales with the corpus); the batch probe is
    # O(batch) + partition-pruned index reads.
    import os

    from vector_search_spark.operators.dedup import (
        minhash_index_write,
        minhash_probe_pairs,
    )
    from vector_search_spark.sources.catalog import sf_dir_from_env
    from vector_search_spark.utils import pid_scratch

    spark = src.sparkSession
    sf_dir = sf_dir_from_env()

    def run():
        corpus = src.filter(F.col("doc_id") % 5 != 0)
        batch = src.filter(F.col("doc_id") % 5 == 0)
        # NOTE: no extra suffix — pid_scratch's dead-pid pruning parses
        # the trailing _<pid> token, so appending anything after it would
        # let another process mistake this dir for a dead one. Base and
        # scaled runs share the path sequentially (each write commits a
        # new base and collects the old one).
        path = pid_scratch("mh_probe_idx", sf_dir)
        minhash_index_write(corpus, "text", "doc_id", path)
        return minhash_probe_pairs(
            spark, path, batch, "text", "doc_id", 0.5
        ).count()

    return run


def minhash_est(src):
    # d_minhash_est_error itself (the row's own plan over the replicated
    # docs, so the probe cannot drift from the row): checkpointed sig
    # table, bands-only candidate shuffle, two pair-side joins — same
    # band-join class as minhash_lsh; replication multiplies docs with
    # disjoint vocab so bucket population per band key stays constant.
    from vector_search_spark.plans.queries import minhash_est_error

    return lambda: minhash_est_error(src).count()


def freq_spectrum(src):
    # t_freq_spectrum shape: two map-side-combined groupBys, shuffle
    # rows bounded by vocabulary then by distinct counts — never by
    # corpus size.
    def run():
        c = (
            src.select(F.explode(F.split("text", " ")).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("n"))
        )
        return (
            c.groupBy("n")
            .agg(F.count("*").alias("n_tokens"))
            .orderBy("n")
            .limit(20)
            .count()
        )

    return run


def twolevel(src):
    # pipe_dedup_twolevel shape: exact-dedup groupBy -> LSH pair
    # pipeline -> CC -> keeper anti-join -> hashed span stats over
    # keepers. Salted copies share no text, shingles, or spans, so
    # every stage scales with the data.
    from pyspark.sql import Window

    from vector_search_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
        span_gram_stats_hashed,
    )

    def run():
        surv = src.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        pairs = minhash_lsh_pairs(surv, "text", "doc_id", 16, 4, 0.5, shingle_n=3)
        drops = (
            dup_clusters(pairs)
            .join(src.select(F.col("doc_id").alias("id"), "n_chars"), "id")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("cluster_id").orderBy(
                        F.desc("n_chars"), F.asc("id")
                    )
                ),
            )
            .filter(F.col("rn") > 1)
            .select("id")
        )
        keepers = surv.join(drops, surv.doc_id == drops.id, "left_anti")
        spans = span_gram_stats_hashed(keepers, "text", "doc_id", 8, min_docs=2)
        return spans.agg(F.count("*"), F.sum("n_occ")).collect()

    return run


def corpus_build(src):
    # pipe_corpus_build shape: the five-stage manifest chain — every
    # stage shuffles on keys (text window, shingle hash, lang); the
    # eval set (doc_id < 20) is fixed across scales.
    from pyspark.sql import Window

    from vector_search_spark.functions.text import (
        poly_hash,
        word_shingle_hashes,
    )
    from vector_search_spark.utils import fan_out

    def run():
        q = src.filter(
            (F.col("doc_id") >= 20)
            & (F.col("n_chars") >= 200)
            & (F.size(F.split("text", " ")) >= 50)
        ).select("doc_id", "lang", "text")
        d = (
            q.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("text").orderBy("doc_id")
                ),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        bench = (
            src.filter(F.col("doc_id") < 20)
            .select(F.explode(word_shingle_hashes("text", 3)).alias("h"))
            .distinct()
        )
        sh = fan_out(d.select("doc_id", "text")).select(
            "doc_id", F.explode(word_shingle_hashes("text", 3)).alias("h")
        )
        bad = (
            sh.join(F.broadcast(bench), "h")
            .groupBy("doc_id")
            .agg(F.countDistinct("h").alias("ns"))
            .filter(F.col("ns") >= 3)
            .select("doc_id")
        )
        c = d.join(bad, "doc_id", "left_anti")
        lc = c.groupBy("lang").agg(F.count("*").alias("n"))
        st = lc.agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.sqrt(F.col("n").cast("double")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("denom"),
            F.sum("n").alias("t"),
        )
        r = lc.crossJoin(F.broadcast(st)).select(
            "lang",
            F.least(
                F.lit(1.0),
                F.round(
                    F.sqrt(F.col("n").cast("double"))
                    / F.col("denom") * F.col("t"), 0,
                ).cast("long").cast("double") / F.col("n"),
            ).alias("rate"),
        )
        kept = (
            c.join(F.broadcast(r), "lang")
            .filter(
                (poly_hash(F.col("doc_id").cast("string")) % 1000000)
                < F.col("rate") * 1000000.0
            )
            .select(
                "doc_id", "lang",
                F.size(F.split("text", " ")).cast("long").alias("n_tok"),
            )
        )
        w = (
            Window.partitionBy("lang")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            kept.select(
                "lang", "n_tok",
                F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum"),
            )
            .groupBy("lang", F.floor(F.col("cum") / 2000).alias("sid"))
            .agg(F.count("*"), F.sum("n_tok"))
            .count()
        )

    return run

