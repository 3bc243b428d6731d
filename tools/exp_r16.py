"""Round-16 optimization A/B experiments (scratch harness, not a bench).

Each experiment defines OLD (current in-tree shape) and NEW (candidate)
forms of one operator, proves result identity (exceptAll both ways == 0),
then interleaves min-of-N warm timings in ONE session — the same-session
A/B discipline OPTIMIZATION_r15.md documents (this host's wall swings
2-4x between sessions, so cross-session walls are not evidence).

    PYTHONPATH=/root/repo python tools/exp_r16.py <exp> [sf_dir]

Experiments: q95u, q95p, q96d, q96, q97h, q94m, q97dot
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window as W, functions as F

from bench import timed_runs
from better_cdc_spark import llmops
from better_cdc_spark.io import load_table
from better_cdc_spark.session import get_spark, tune_for_oracle

REPS = int(os.environ.get("EXP_REPS", "3"))


def _time(label: str, fn, spark, sf_dir: str, reps: int = REPS) -> float:
    spark.sparkContext.setJobDescription(f"exp:{label}")
    walls = timed_runs(lambda: fn(spark, sf_dir).count(), reps)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: min={min(walls):.3f} all={[round(w, 3) for w in walls]}",
          flush=True)
    return min(walls)


def _identical(old_df: DataFrame, new_df: DataFrame) -> None:
    d1 = old_df.exceptAll(new_df).count()
    d2 = new_df.exceptAll(old_df).count()
    assert d1 == 0 and d2 == 0, f"MISMATCH old-new={d1} new-old={d2}"
    print(f"  results identical ({old_df.count()} rows)", flush=True)


# --------------------------------------------------------------------------
# q95u / q95p: corpus-wide dup-gram support check — window (current) vs
# checkpointed grams + map-side-combined agg + join-back (hot-key-bounded)
# --------------------------------------------------------------------------

def _q95u_grams(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wexpr = F.filter(F.split("text", " "), lambda x: x != "")
    extract = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(wexpr, 21, 40)).alias("text"),
    )
    corpus = docs.unionByName(extract)
    wdf = corpus.select("doc_id", wexpr.alias("words"))
    gram_arr = F.when(
        F.size("words") >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size("words") - 7),
            lambda i: F.concat_ws(" ", F.slice("words", i, 8)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return wdf.select(
        "doc_id",
        F.posexplode(F.transform(gram_arr, lambda g: F.xxhash64(g))).alias("pos0", "gh"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "gh")


def _q95_tail(hits):
    prev_max_e = F.max("e").over(
        W.partitionBy("doc_id").orderBy("s", "e").rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = hits.select(
        "doc_id", "s", "e",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)) + 1, 1)
        .otherwise(0).alias("new_island"),
    )
    islands = flagged.select(
        "doc_id", "s", "e",
        F.sum("new_island").over(W.partitionBy("doc_id").orderBy("s", "e")).alias("isl"),
    )
    spans = islands.groupBy("doc_id", "isl").agg(
        F.min("s").alias("span_start"), F.max("e").alias("span_end")
    )
    span_len = F.col("span_end") - F.col("span_start") + 1
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(span_len).cast("long").alias("dup_tokens"),
        F.max(span_len).cast("long").alias("max_span_tokens"),
    )


def q95u_old(spark, sf_dir):
    tune_for_oracle(spark)
    grams = _q95u_grams(spark, sf_dir)
    wgh = W.partitionBy("gh")
    hits = (
        grams.withColumn("_mn", F.min("doc_id").over(wgh))
        .withColumn("_mx", F.max("doc_id").over(wgh))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", F.col("i").alias("s"), (F.col("i") + 7).alias("e"))
    )
    return _q95_tail(hits)


def q95u_new(spark, sf_dir):
    tune_for_oracle(spark)
    grams = _q95u_grams(spark, sf_dir).localCheckpoint(eager=True)
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi").select(
        "doc_id", F.col("i").alias("s"), (F.col("i") + 7).alias("e")
    )
    return _q95_tail(hits)


def exp_q95u(spark, sf_dir):
    _identical(q95u_old(spark, sf_dir), q95u_new(spark, sf_dir))
    for _ in range(2):
        _time("q95u_old(window)", q95u_old, spark, sf_dir)
        _time("q95u_new(ckpt+agg+semijoin)", q95u_new, spark, sf_dir)


def _q95p_parts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wexpr = F.filter(F.split("text", " "), lambda x: x != "")
    extract = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(wexpr, 21, 40)).alias("text"),
    )
    corpus = docs.unionByName(extract)
    wdf = corpus.select("doc_id", wexpr.alias("words"))

    def _gh_at(i):
        return F.xxhash64(*[F.element_at("words", i + k) for k in range(8)])

    gh_arr = F.when(
        F.size("words") >= 8,
        F.transform(F.sequence(F.lit(1), F.size("words") - 7), _gh_at),
    ).otherwise(F.array().cast("array<bigint>"))
    grams_h = wdf.select(
        "doc_id", F.posexplode(gh_arr).alias("pos0", "gh")
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "gh")
    return wdf, grams_h


def _q95p_verify_tail(wdf, cand):
    cand_pos = cand.groupBy("doc_id").agg(F.collect_list("i").alias("poss"))
    cand_grams = (
        wdf.join(cand_pos, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    "poss",
                    lambda i: F.struct(
                        i.alias("i"),
                        F.concat_ws(" ", F.slice("words", i, 8)).alias("g"),
                    ),
                )
            ).alias("pg"),
        )
        .select("doc_id", F.col("pg.i").alias("i"), F.col("pg.g").alias("g"))
    )
    wg = W.partitionBy("g")
    hits = (
        cand_grams.withColumn("_mn", F.min("doc_id").over(wg))
        .withColumn("_mx", F.max("doc_id").over(wg))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", F.col("i").alias("s"), (F.col("i") + 7).alias("e"))
    )
    return _q95_tail(hits)


def q95p_old(spark, sf_dir):
    tune_for_oracle(spark)
    wdf, grams_h = _q95p_parts(spark, sf_dir)
    wgh = W.partitionBy("gh")
    cand = (
        grams_h.withColumn("_mn", F.min("doc_id").over(wgh))
        .withColumn("_mx", F.max("doc_id").over(wgh))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "i")
    )
    return _q95p_verify_tail(wdf, cand)


def q95p_new(spark, sf_dir):
    tune_for_oracle(spark)
    wdf, grams_h = _q95p_parts(spark, sf_dir)
    grams_h = grams_h.localCheckpoint(eager=True)
    dup = (
        grams_h.groupBy("gh")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("gh")
    )
    cand = grams_h.join(dup, "gh", "left_semi").select("doc_id", "i")
    return _q95p_verify_tail(wdf, cand)


def exp_q95p(spark, sf_dir):
    _identical(q95p_old(spark, sf_dir), q95p_new(spark, sf_dir))
    for _ in range(2):
        _time("q95p_old(window)", q95p_old, spark, sf_dir)
        _time("q95p_new(ckpt+agg+semijoin)", q95p_new, spark, sf_dir)


# --------------------------------------------------------------------------
# Unrolled scalar chains (the q96e 5becd90 lesson): higher-order
# zip_with/aggregate lambdas evaluate interpreted; a fixed-order scalar
# multiply-add chain is bit-identical (same left-fold order) and codegens.
# --------------------------------------------------------------------------

def dot_unrolled(a: F.Column, b: F.Column, dim: int) -> F.Column:
    acc = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i) * F.element_at(b, i)
    return acc


def nearest_centroid_unrolled(centroids, vec) -> F.Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    cands = []
    for ci, c in enumerate(centroids):
        acc = F.lit(0.0)
        for i, x in enumerate(c, start=1):
            d = F.element_at(v, i) - F.lit(float(x))
            acc = acc + d * d
        cands.append(F.struct(acc.alias("d2"), F.lit(ci).alias("cid")))
    return F.array_min(F.array(*cands))["cid"]


# --------------------------------------------------------------------------
# q96d_semdedup: lazy ckpt folded into seeds job + unrolled argmin/dot
# --------------------------------------------------------------------------

SEMDEDUP_K, SEMDEDUP_ITERS, SEMDEDUP_TAU = 8, 2, 0.95


def _q96d_unit(spark, sf_dir, eager: bool):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", llmops.as_double_vec("embedding").alias("v")
    )
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(1.02)).alias("v"),
    )
    return (
        emb.unionByName(dups)
        .withColumn("norm", llmops.l2_norm(F.col("v")))
        .select(
            "vec_id",
            F.transform(F.col("v"), lambda x: x / F.col("norm")).alias("u"),
        )
        .localCheckpoint(eager=eager)
    )


def _lloyd_unrolled(unit, init, iters, vec_col="u"):
    k, dim = len(init), len(init[0])
    cents = [list(map(float, c)) for c in init]
    for _ in range(iters):
        assigned = unit.withColumn("__c", nearest_centroid_unrolled(cents, vec_col))
        rows = (
            assigned.select("__c", F.posexplode(vec_col).alias("__i", "__x"))
            .groupBy("__c", "__i")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in rows:
            by_c.setdefault(r["__c"], {})[r["__i"]] = r["__m"]
        cents = [
            [by_c[c][i] for i in range(dim)] if c in by_c else cents[c]
            for c in range(k)
        ]
    return cents


def _q96d_form(spark, sf_dir, lazy_ckpt: bool, unroll_argmin: bool, unroll_dot: bool):
    tune_for_oracle(spark)
    from better_cdc_spark.session import tune_cpu_bound

    unit = _q96d_unit(spark, sf_dir, eager=not lazy_ckpt)
    seeds = [r["u"] for r in unit.orderBy("vec_id").limit(SEMDEDUP_K).collect()]
    if unroll_argmin:
        cents = _lloyd_unrolled(unit, seeds, iters=SEMDEDUP_ITERS)
        assign = nearest_centroid_unrolled(cents, "u")
    else:
        cents = llmops.lloyd_centroids(unit, seeds, iters=SEMDEDUP_ITERS, vec_col="u")
        assign = llmops.nearest_centroid(cents, "u")
    final = unit.withColumn("cluster", assign.cast("long"))
    tune_cpu_bound(spark)
    a = final.select(F.col("vec_id"), F.col("cluster"), F.col("u").alias("ua"))
    b = final.select(
        F.col("vec_id").alias("vec_b"), F.col("cluster"), F.col("u").alias("ub")
    )
    dotf = (
        dot_unrolled(F.col("ua"), F.col("ub"), 64)
        if unroll_dot
        else llmops.dot(F.col("ua"), F.col("ub"))
    )
    dominated = (
        a.join(b, "cluster")
        .filter(F.col("vec_b") < F.col("vec_id"))
        .filter(dotf >= SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("dom", F.lit(True))
    )
    return (
        final.join(dominated, "vec_id", "left")
        .select("vec_id", "cluster", F.col("dom").isNull().alias("kept"))
    )


# join-based argmin: centroids ship as a broadcast 8-row frame instead of
# 512 plan literals — the assignment expression shrinks from 8 zip_with
# trees to ONE, cutting per-iteration plan-compile cost; d2 values and the
# (d2, cid) lexicographic tie-break are bit-identical.
def _cents_df(spark, cents):
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid int, cv array<double>",
    )


def _assign_join(spark, unit, cents, vec_col="u"):
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = unit.crossJoin(F.broadcast(_cents_df(spark, cents))).select(
        "vec_id", F.struct(d2.alias("d2"), F.col("cid").alias("cid")).alias("s")
    )
    return scored.groupBy("vec_id").agg(F.min("s")["cid"].alias("__c"))


def _q96d_join_form(spark, sf_dir):
    tune_for_oracle(spark)
    from better_cdc_spark.session import tune_cpu_bound

    unit = _q96d_unit(spark, sf_dir, eager=True)
    seeds = [r["u"] for r in unit.orderBy("vec_id").limit(SEMDEDUP_K).collect()]
    k, dim = len(seeds), len(seeds[0])
    cents = [list(map(float, c)) for c in seeds]
    for _ in range(SEMDEDUP_ITERS):
        best = _assign_join(spark, unit, cents)
        rows = (
            unit.join(best, "vec_id")
            .select("__c", F.posexplode("u").alias("__i", "__x"))
            .groupBy("__c", "__i")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in rows:
            by_c.setdefault(r["__c"], {})[r["__i"]] = r["__m"]
        cents = [
            [by_c[c][i] for i in range(dim)] if c in by_c else cents[c]
            for c in range(k)
        ]
    final = unit.join(_assign_join(spark, unit, cents), "vec_id").select(
        "vec_id", F.col("__c").cast("long").alias("cluster"), "u"
    )
    tune_cpu_bound(spark)
    a = final.select(F.col("vec_id"), F.col("cluster"), F.col("u").alias("ua"))
    b = final.select(
        F.col("vec_id").alias("vec_b"), F.col("cluster"), F.col("u").alias("ub")
    )
    dominated = (
        a.join(b, "cluster")
        .filter(F.col("vec_b") < F.col("vec_id"))
        .filter(llmops.dot(F.col("ua"), F.col("ub")) >= SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("dom", F.lit(True))
    )
    return (
        final.join(dominated, "vec_id", "left")
        .select("vec_id", "cluster", F.col("dom").isNull().alias("kept"))
    )


def exp_q96d_join(spark, sf_dir):
    old = lambda s, d: _q96d_form(s, d, False, False, False)  # noqa: E731
    _identical(old(spark, sf_dir), _q96d_join_form(spark, sf_dir))
    for _ in range(3):
        _time("q96d_old(literal_argmin)", old, spark, sf_dir)
        _time("q96d_join_argmin", _q96d_join_form, spark, sf_dir)


def exp_q96d(spark, sf_dir):
    old = lambda s, d: _q96d_form(s, d, False, False, False)  # noqa: E731
    lazy = lambda s, d: _q96d_form(s, d, True, False, False)  # noqa: E731
    dot_ = lambda s, d: _q96d_form(s, d, False, False, True)  # noqa: E731
    argmin = lambda s, d: _q96d_form(s, d, False, True, False)  # noqa: E731
    del dot_, argmin
    _identical(old(spark, sf_dir), lazy(spark, sf_dir))
    for _ in range(3):
        _time("q96d_old", old, spark, sf_dir)
        _time("q96d_lazy_only", lazy, spark, sf_dir)


# --------------------------------------------------------------------------
# q96_minhash_lsh: lsh_band_keys via static array-of-structs (codegen)
# instead of transform(sequence(...)) (interpreted)
# --------------------------------------------------------------------------

def lsh_band_keys_static() -> F.Column:
    structs = []
    for j in range(llmops.MINHASH_BANDS):
        parts = ", ".join(
            f"sig[{llmops.MINHASH_ROWS * j + r}]" for r in range(llmops.MINHASH_ROWS)
        )
        structs.append(f"struct({j} AS band, concat_ws(':', {parts}) AS key)")
    return F.expr("array(" + ", ".join(structs) + ")")


def _q96_form(spark, sf_dir, static_bands: bool):
    tune_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents")
    postings = llmops.shingle_postings(docs, "doc_id").localCheckpoint(eager=True)
    band_expr = lsh_band_keys_static() if static_bands else llmops.lsh_band_keys("sig")
    sigs = (
        llmops.minhash_signatures(None, "doc_id", postings=postings)
        .select("doc_id", F.explode(band_expr).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        .localCheckpoint(eager=True)
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = llmops.jaccard_for_pairs(postings, cands, "doc_id", materialize=False)
    from better_cdc_spark.queries.llm import JACCARD_THRESHOLD

    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def exp_q96(spark, sf_dir):
    old = lambda s, d: _q96_form(s, d, False)  # noqa: E731
    new = lambda s, d: _q96_form(s, d, True)  # noqa: E731
    _identical(old(spark, sf_dir), new(spark, sf_dir))
    for _ in range(2):
        _time("q96_old(transform_bands)", old, spark, sf_dir)
        _time("q96_new(static_bands)", new, spark, sf_dir)


# --------------------------------------------------------------------------
# q97h_bm25_topk: materialize dl (per-doc token counts) — the token explode
# currently evaluates 3x (dl join, stats, tf)
# --------------------------------------------------------------------------

def _q97h_form(spark, sf_dir, mat_dl: bool):
    tune_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qterms = spark.createDataFrame(
        [(1, "table"), (1, "scan"), (2, "join"), (2, "hash"),
         (3, "window"), (3, "agg")],
        "qid int, w string",
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    if mat_dl:
        dl = dl.localCheckpoint(eager=True)
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
        F.sum("dl").alias("t"),
    )
    tf = (
        words.join(F.broadcast(qterms.select("w").distinct()), "w")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(qterms), "w")
        .join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            llmops.bm25_term_score().cast("decimal(18,10)").alias("s"),
        )
    )
    agg = scored.groupBy("qid", "doc_id").agg(F.sum("s").alias("score"))
    rnk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id")
    )
    return (
        agg.select("qid", "doc_id", "score", rnk.alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .select("qid", "rnk", "doc_id",
                F.round(F.col("score").cast("double"), 6).alias("bm25"))
    )


def exp_q97h(spark, sf_dir):
    old = lambda s, d: _q97h_form(s, d, False)  # noqa: E731
    new = lambda s, d: _q97h_form(s, d, True)  # noqa: E731
    _identical(old(spark, sf_dir), new(spark, sf_dir))
    for _ in range(2):
        _time("q97h_old(3x_explode)", old, spark, sf_dir)
        _time("q97h_new(ckpt_dl)", new, spark, sf_dir)


# --------------------------------------------------------------------------
# q94m_shortest_paths: drop the per-round settled checkpoint (union of
# already-checkpointed frontiers) — r15 measured neutral at sf0.1
# --------------------------------------------------------------------------

def _q94m_form(spark, sf_dir, ckpt_settled: bool):
    tune_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(*[(F.col("doc_id") * 7 + F.lit(k)) % F.lit(n) for k in (1, 2, 3)])
        ).alias("dst"),
    )
    settled = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    frontier = settled.select("node")
    for depth in range(1, 5):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        settled = settled.union(
            frontier.select("node", F.lit(depth).cast("long").alias("dist"))
        )
        if ckpt_settled:
            settled = settled.localCheckpoint(eager=True)
    return settled.select(F.col("node").alias("doc_id"), "dist")


def exp_q94m(spark, sf_dir):
    old = lambda s, d: _q94m_form(s, d, True)  # noqa: E731
    new = lambda s, d: _q94m_form(s, d, False)  # noqa: E731
    _identical(old(spark, sf_dir), new(spark, sf_dir))
    for _ in range(2):
        _time("q94m_old(ckpt_settled)", old, spark, sf_dir)
        _time("q94m_new(lazy_settled)", new, spark, sf_dir)


# --------------------------------------------------------------------------
# qc01_cdc_normalize: materialize the synthesized changelog (re-scanned by
# the commits filter + data filter) — r15 measured a loss at sf0.1
# --------------------------------------------------------------------------

def _qc01_form(spark, sf_dir, mat: bool):
    from better_cdc_spark.cdc.changelog import synthesize_changelog_from_orders
    from better_cdc_spark.cdc.normalize import normalize_changelog
    from better_cdc_spark.queries.cdc_queries import ALLOWLIST

    tune_for_oracle(spark)
    orders = load_table(spark, sf_dir, "orders")
    changelog = synthesize_changelog_from_orders(orders)
    if mat:
        changelog = changelog.localCheckpoint(eager=True)
    ev = normalize_changelog(changelog, database="testdb", allowlist=ALLOWLIST)
    return ev.select(
        "event_id", "event_type", "source", "commit_time", "lsn", "txid",
        "schema", "table", "operation", "subject",
        F.size("before").alias("n_before"),
        F.size("after").alias("n_after"),
        F.element_at("after", "status").alias("after_status"),
        F.element_at("before", "id").alias("before_id"),
    )


def _identical_hashed(old_df: DataFrame, new_df: DataFrame) -> None:
    # exceptAll trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the qc01
    # frames (duplicate-lineage binding quirk); an order-insensitive
    # rowhash-sum compare is representation-free and avoids the bug.
    def sig(df):
        h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
        row = df.select(
            F.count("*").alias("n"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    s1, s2 = sig(old_df), sig(new_df)
    assert s1 == s2, f"MISMATCH {s1} vs {s2}"
    print(f"  results identical ({s1[0]} rows, hash-sum match)", flush=True)


def exp_qc01(spark, sf_dir):
    old = lambda s, d: _qc01_form(s, d, False)  # noqa: E731
    new = lambda s, d: _qc01_form(s, d, True)  # noqa: E731
    _identical_hashed(old(spark, sf_dir), new(spark, sf_dir))
    for _ in range(2):
        _time("qc01_old(lazy)", old, spark, sf_dir)
        _time("qc01_new(ckpt_changelog)", new, spark, sf_dir)


# --------------------------------------------------------------------------
# q48_bitmap_overlap: checkpoint the bitmap table (consumed by sizes + both
# join sides) — r15 measured a loss at sf0.1 (branches run concurrently)
# --------------------------------------------------------------------------

def _q48_form(spark, sf_dir, mat: bool):
    tune_for_oracle(spark)
    members = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    bm = members.select(
        "event_type",
        F.expr("user_id div 63").alias("chunk"),
        F.expr("shiftleft(1L, cast(user_id % 63 as int))").alias("bit"),
    ).groupBy("event_type", "chunk").agg(F.expr("bit_or(bit)").alias("mask"))
    if mat:
        bm = bm.localCheckpoint(eager=True)
    sizes = bm.groupBy("event_type").agg(F.sum(F.bit_count("mask")).alias("sz"))
    a = bm.alias("a")
    b = bm.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("seg_a"),
            F.col("b.event_type").alias("seg_b"),
            F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask"))).alias("pc"),
        )
        .groupBy("seg_a", "seg_b")
        .agg(F.sum("pc").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("seg_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("event_type").alias("seg_b"), F.col("sz").alias("size_b"))
    return (
        ov.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a", "seg_b", "n_common", "size_a", "size_b",
            (F.col("size_a") + F.col("size_b") - F.col("n_common")).alias("n_union"),
        )
    )


def exp_q48(spark, sf_dir):
    old = lambda s, d: _q48_form(s, d, False)  # noqa: E731
    new = lambda s, d: _q48_form(s, d, True)  # noqa: E731
    _identical(old(spark, sf_dir), new(spark, sf_dir))
    for _ in range(2):
        _time("q48_old(concurrent)", old, spark, sf_dir)
        _time("q48_new(ckpt_bm)", new, spark, sf_dir)


# --------------------------------------------------------------------------
# q97_cosine_topk: unrolled dot/norm in the scoring projection
# --------------------------------------------------------------------------

def _q97_form(spark, sf_dir, unroll: bool):
    TOPK_QUERIES, TOPK_K = 8, 10
    tune_for_oracle(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", llmops.as_double_vec("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    if unroll:
        cos = dot_unrolled(F.col("v"), F.col("qv"), 64) / (
            F.sqrt(dot_unrolled(F.col("v"), F.col("v"), 64))
            * F.sqrt(dot_unrolled(F.col("qv"), F.col("qv"), 64))
        )
    else:
        cos = llmops.dot(F.col("v"), F.col("qv")) / (
            llmops.l2_norm(F.col("v")) * llmops.l2_norm(F.col("qv"))
        )
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("nid"), F.round(cos, 6).alias("cosine")
    )
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_K)
        .select("qid", "nid", "cosine", "rnk")
    )


def exp_q97dot(spark, sf_dir):
    old = lambda s, d: _q97_form(s, d, False)  # noqa: E731
    new = lambda s, d: _q97_form(s, d, True)  # noqa: E731
    _identical(old(spark, sf_dir), new(spark, sf_dir))
    for _ in range(2):
        _time("q97_old(lambda_dot)", old, spark, sf_dir)
        _time("q97_new(unrolled_dot)", new, spark, sf_dir)


# --------------------------------------------------------------------------
# "spread": single-row-group scans serialize every CPU-heavy narrow
# pipeline (explode/hash/shingle + map-side partial agg) into ONE task —
# /root/testdata/sf*/:  every table is one file with one row group.
# Candidate fix (guide §2.5 unsplittable input): repartition the tiny base
# rows right after the scan so the explode work uses every core.
# --------------------------------------------------------------------------

def _spread(df):
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def q95u_spread(spark, sf_dir):
    tune_for_oracle(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wexpr = F.filter(F.split("text", " "), lambda x: x != "")
    extract = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(wexpr, 21, 40)).alias("text"),
    )
    corpus = _spread(docs.unionByName(extract))
    wdf = corpus.select("doc_id", wexpr.alias("words"))
    gram_arr = F.when(
        F.size("words") >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size("words") - 7),
            lambda i: F.concat_ws(" ", F.slice("words", i, 8)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = wdf.select(
        "doc_id",
        F.posexplode(F.transform(gram_arr, lambda g: F.xxhash64(g))).alias("pos0", "gh"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "gh")
    wgh = W.partitionBy("gh")
    hits = (
        grams.withColumn("_mn", F.min("doc_id").over(wgh))
        .withColumn("_mx", F.max("doc_id").over(wgh))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", F.col("i").alias("s"), (F.col("i") + 7).alias("e"))
    )
    return _q95_tail(hits)


def exp_q95u_spread(spark, sf_dir):
    _identical(q95u_old(spark, sf_dir), q95u_spread(spark, sf_dir))
    for _ in range(2):
        _time("q95u_old(1task_scan)", q95u_old, spark, sf_dir)
        _time("q95u_spread", q95u_spread, spark, sf_dir)


def _q96_form_spread(spark, sf_dir):
    tune_for_oracle(spark)
    docs = _spread(load_table(spark, sf_dir, "documents"))
    postings = llmops.shingle_postings(docs, "doc_id").localCheckpoint(eager=True)
    band_expr = llmops.lsh_band_keys("sig")
    sigs = (
        llmops.minhash_signatures(None, "doc_id", postings=postings)
        .select("doc_id", F.explode(band_expr).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        .localCheckpoint(eager=True)
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = llmops.jaccard_for_pairs(postings, cands, "doc_id", materialize=False)
    from better_cdc_spark.queries.llm import JACCARD_THRESHOLD

    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def exp_q96_spread(spark, sf_dir):
    old = lambda s, d: _q96_form(s, d, True)  # noqa: E731  (current in-tree shape)
    _identical(old(spark, sf_dir), _q96_form_spread(spark, sf_dir))
    for _ in range(2):
        _time("q96_old(1task_scan)", old, spark, sf_dir)
        _time("q96_spread", _q96_form_spread, spark, sf_dir)


def _q97h_form_spread(spark, sf_dir):
    tune_for_oracle(spark)
    docs = _spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    qterms = spark.createDataFrame(
        [(1, "table"), (1, "scan"), (2, "join"), (2, "hash"),
         (3, "window"), (3, "agg")],
        "qid int, w string",
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
        F.sum("dl").alias("t"),
    )
    tf = (
        words.join(F.broadcast(qterms.select("w").distinct()), "w")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(qterms), "w")
        .join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            llmops.bm25_term_score().cast("decimal(18,10)").alias("s"),
        )
    )
    agg = scored.groupBy("qid", "doc_id").agg(F.sum("s").alias("score"))
    rnk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id")
    )
    return (
        agg.select("qid", "doc_id", "score", rnk.alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .select("qid", "rnk", "doc_id",
                F.round(F.col("score").cast("double"), 6).alias("bm25"))
    )


def exp_q97h_spread(spark, sf_dir):
    old = lambda s, d: _q97h_form(s, d, False)  # noqa: E731
    _identical(old(spark, sf_dir), _q97h_form_spread(spark, sf_dir))
    for _ in range(2):
        _time("q97h_old(1task_scan)", old, spark, sf_dir)
        _time("q97h_spread", _q97h_form_spread, spark, sf_dir)



# single-tree fold argmin: same no-shuffle narrow projection as the
# literal form, but the 8 per-centroid expression trees collapse into ONE
# transform over an array-of-arrays literal — smaller analyzer surface,
# identical values and (d2, cid) tie-break.
def nearest_centroid_fold(centroids, vec):
    v = F.col(vec) if isinstance(vec, str) else vec
    arr = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    return F.array_min(
        F.transform(
            arr,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d2"),
                i.alias("cid"),
            ),
        )
    )["cid"]


def _q96d_fold_form(spark, sf_dir):
    tune_for_oracle(spark)
    from better_cdc_spark.session import tune_cpu_bound

    unit = _q96d_unit(spark, sf_dir, eager=True)
    seeds = [r["u"] for r in unit.orderBy("vec_id").limit(SEMDEDUP_K).collect()]
    k, dim = len(seeds), len(seeds[0])
    cents = [list(map(float, c)) for c in seeds]
    for _ in range(SEMDEDUP_ITERS):
        assigned = unit.withColumn("__c", nearest_centroid_fold(cents, "u"))
        rows = (
            assigned.select("__c", F.posexplode("u").alias("__i", "__x"))
            .groupBy("__c", "__i")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_c = {}
        for r in rows:
            by_c.setdefault(r["__c"], {})[r["__i"]] = r["__m"]
        cents = [
            [by_c[c][i] for i in range(dim)] if c in by_c else cents[c]
            for c in range(k)
        ]
    final = unit.withColumn("cluster", nearest_centroid_fold(cents, "u").cast("long"))
    tune_cpu_bound(spark)
    a = final.select(F.col("vec_id"), F.col("cluster"), F.col("u").alias("ua"))
    b = final.select(
        F.col("vec_id").alias("vec_b"), F.col("cluster"), F.col("ub_")
        if False else F.col("u").alias("ub")
    )
    dominated = (
        a.join(b, "cluster")
        .filter(F.col("vec_b") < F.col("vec_id"))
        .filter(llmops.dot(F.col("ua"), F.col("ub")) >= SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("dom", F.lit(True))
    )
    return (
        final.join(dominated, "vec_id", "left")
        .select("vec_id", "cluster", F.col("dom").isNull().alias("kept"))
    )


def exp_q96d_fold(spark, sf_dir):
    old = lambda s, d: _q96d_form(s, d, False, False, False)  # noqa: E731
    _identical(old(spark, sf_dir), _q96d_fold_form(spark, sf_dir))
    for _ in range(3):
        _time("q96d_old(8tree_argmin)", old, spark, sf_dir)
        _time("q96d_fold_argmin", _q96d_fold_form, spark, sf_dir)


EXPS = {
    "q95u": exp_q95u,
    "q95p": exp_q95p,
    "q95u_spread": exp_q95u_spread,
    "q96_spread": exp_q96_spread,
    "q97h_spread": exp_q97h_spread,
    "q96d_join": exp_q96d_join,
    "q96d_fold": exp_q96d_fold,
    "q96d": exp_q96d,
    "q96": exp_q96,
    "q97h": exp_q97h,
    "q94m": exp_q94m,
    "qc01": exp_qc01,
    "q48": exp_q48,
    "q97dot": exp_q97dot,
}


def main() -> int:
    exp = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("exp-r16")
    # warm-up
    load_table(spark, sf_dir, "documents").count()
    print(f"=== {exp} @ {sf_dir} ===", flush=True)
    EXPS[exp](spark, sf_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
