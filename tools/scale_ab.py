"""Scale A/B harness: old (pre-optimization) query shapes against the
shipped queries, interleaved in ONE Spark session, min AND median over
order-swapped rounds — host drift cancels in the alternation. The old
shapes are reconstructed from the same library operators the old
queries composed, so the comparison is shape-vs-shape, not
commit-vs-commit. Result rows are asserted identical between the two
forms before any pair is timed.

Usage: SPARK_GRAFT_SF_DIR=<tables dir> python tools/scale_ab.py [mult] [pair ...]
  mult=1 (default) runs directly on $SPARK_GRAFT_SF_DIR, no replica
  build; mult>=2 builds ``mult`` key-shifted replicas of the REPLICAS
  tables under a temp dir and removes them afterwards. No pair names:
  every pair in PAIRS.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from carbon_clickhouse_spark.datapipe.dedup import (  # noqa: E402
    dedup_against_reference,
    exploded_shingles,
    minhash_buckets,
)
from carbon_clickhouse_spark.datapipe.lm import perplexity_buckets  # noqa: E402
from carbon_clickhouse_spark.operators.ch_aggregates import (  # noqa: E402
    _ns_join,
    entropy_cells,
    two_sample_base,
    two_sample_moment_aggs,
    two_sample_rank_finals,
    two_sample_t_finals,
    two_sample_value_cells,
)
from carbon_clickhouse_spark.operators.index import build_index  # noqa: E402
from carbon_clickhouse_spark.operators.rollup import (  # noqa: E402
    Retention,
    RollupRule,
    rollup,
)
from carbon_clickhouse_spark.query.finder import (  # noqa: E402
    find_metrics,
    find_metrics_reverse,
)
from carbon_clickhouse_spark.sources import plain as pl  # noqa: E402
from carbon_clickhouse_spark.sources import prometheus as prom  # noqa: E402

#: timed rounds per pair; odd rounds run the new form first
ROUNDS = 6

#: table -> (key column, key shift per replica, partitions), or None to
#: copy the table as-is. Replica r adds r * shift to the key, so keys
#: stay unique across replicas. The doc_id shift is EVEN so every doc
#: keeps its parity (q_incremental_dedup splits the new/reference
#: corpora on doc_id % 2).
REPLICAS = {
    "events": ("event_id", 1_000_000_000, 32),
    "lineitem": ("l_orderkey", 100_000_000, 32),
    "orders": ("o_orderkey", 100_000_000, 16),
    "customer": None,
    "documents": ("doc_id", 1_000_000, 32),
}


def build_replicas(spark, src: str, dst: str, mult: int) -> None:
    reps = spark.range(mult).select(F.col("id").alias("__r"))
    for table, spec in REPLICAS.items():
        df = entry._t(spark, src, table)
        if spec is not None:
            key, shift, parts = spec
            df = (
                df.crossJoin(reps)
                .select(
                    (F.col(key) + F.col("__r") * shift).alias(key),
                    *[c for c in df.columns if c != key],
                )
                .repartition(parts)
            )
        df.write.parquet(f"{dst}/{table}.parquet")


# ---- old shapes, reconstructed from the same operators ----


def old_two_sample(spark, sf_dir):
    ev = entry._t(spark, sf_dir, "events")
    base_in = ev.select("event_type", "value", (F.col("user_id") % 2).alias("s"))
    gcols = ["event_type"]
    base = two_sample_base(base_in, gcols, "value", "s", 1000)
    mom = base.groupBy(*gcols).agg(*two_sample_moment_aggs())
    stats = mom.select(*gcols, *two_sample_t_finals())
    per_v = two_sample_value_cells(base, gcols)
    mw = two_sample_rank_finals(per_v, gcols)
    return _ns_join(stats, mw, gcols)


def old_rollup(spark, sf_dir):
    # pre-r12: union of two independent rollup() passes
    pts = entry._events_points(spark, sf_dir)
    fn_rules = (
        RollupRule(r"\.click$", "sum"),
        RollupRule(r"\.error$", "max"),
        RollupRule(r"\.purchase$", "min"),
        RollupRule("", "avg"),
    )
    hourly = rollup(
        pts, fn_rules, precision_s=3600, exact_decimal=True, round_avg_to=4
    )
    ret_rules = (
        RollupRule(
            "", "avg", (Retention(0, 3600), Retention(7 * 86400, 86400))
        ),
    )
    retention = rollup(
        pts, ret_rules, now=1706745600, exact_decimal=True, round_avg_to=4
    )
    lab = lambda tag, df: df.select(  # noqa: E731
        F.lit(tag).alias("rule_set"), "path", "time",
        F.round("value", 4).alias("value"),
    )
    return lab("hourly", hourly).unionByName(lab("retention", retention))


def old_top_rev(spark, sf_dir):
    cust = entry._t(spark, sf_dir, "customer")
    orders = entry._t(spark, sf_dir, "orders")
    li = entry._t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(14,2)")
        * (
            F.lit(1).cast("decimal(3,2)")
            - F.col("l_discount").cast("decimal(3,2)")
        )
    ).cast("decimal(24,8)")
    li_rev = li.groupBy("l_orderkey").agg(
        F.sum(rev).cast("double").alias("revenue")
    )
    joined = (
        li_rev.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_orderdate", "c_name", "revenue")
    )
    return (
        joined.select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "c_name",
            F.round("revenue", 4).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def old_incremental_dedup(spark, sf_dir):
    # the two-call form: minhash_buckets planned (scan + shingle stage
    # + sig-agg) once PER SIDE
    d = entry._fan(entry._t(spark, sf_dir, "documents"))
    return dedup_against_reference(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )


def old_find_metrics(spark, sf_dir):
    # the index build re-planned per union branch (the globs cannot
    # prune it)
    idx = build_index(entry._events_points(spark, sf_dir))
    direct = find_metrics(idx, "ev.u1*.click").select(
        F.lit("direct").alias("dir"), "path"
    )
    rev = find_metrics_reverse(idx, "*.*.click").select(
        F.lit("reverse").alias("dir"), "path"
    )
    return direct.unionByName(rev)


def old_minhash(spark, sf_dir):
    # pre-r12: self-join on the RAW bucket lineage (Spark plans each
    # side independently -> shingle stage + md5 signature groupBy run
    # twice)
    docs = entry._fan(entry._t(spark, sf_dir, "documents"))
    buckets = minhash_buckets(docs)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def old_entropy(spark, sf_dir):
    # pre-r13: per-group total as a partition window (sorts the whole
    # distinct-value cell table)
    ev = entry._t(spark, sf_dir, "events")
    base = ev.select("event_type", (F.col("user_id") % 16).alias("ub"))
    gcols = ["event_type"]
    per_v = entropy_cells(base, gcols, "ub")
    n = F.sum("__c").over(Window.partitionBy(*gcols))
    p = F.col("__c").cast("double") / n.cast("double")
    term = (-(p * F.log2(p))).cast("decimal(28,12)")
    agg = (
        per_v.select(*gcols, term.alias("__t"))
        .groupBy(*gcols)
        .agg(F.sum("__t").alias("__h"))
    )
    out = agg.select(*gcols, F.col("__h").cast("double").alias("entropy"))
    return out.select("event_type", F.round("entropy", 6).alias("entropy"))


def old_ngram(spark, sf_dir):
    # pre-r12: rsh + doc_sets NOT materialized — the function body of
    # ngram_jaccard_pairs with the materializations removed (each
    # branch re-plans its inputs)
    docs = entry._t(spark, sf_dir, "documents")
    threshold, max_shingle_df = 0.5, 10
    sh = exploded_shingles(docs, "text", "doc_id", 3)
    doc_sets = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shs"),
        F.count("*").cast("long").alias("n_sh"),
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter((F.col("df_") >= 2) & (F.col("df_") <= max_shingle_df))
        .select("shingle")
    )
    rsh = sh.join(rare, "shingle")
    cand = (
        rsh.alias("x")
        .join(rsh.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    n_inter = F.col("n_inter").cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def old_ccnet(spark, sf_dir):
    # pre-r12: the (doc_id, log_ppl) score table NOT materialized —
    # perplexity_buckets' eager percentile pass and the banded output
    # each re-ran the LM pipeline
    base = entry.q_lm_perplexity(spark, sf_dir)
    return perplexity_buckets(base, ppl_col="log_ppl").select(
        "doc_id", "log_ppl", "band"
    )


class _DetWrap:
    """Stand-in whose asNondeterministic() hands back a fresh
    DETERMINISTIC udf — reconstructs the pre-r12 duplicated-UDF plans
    without touching the shipped call sites."""

    def __init__(self, det_udf):
        self._u = det_udf

    def asNondeterministic(self):
        return self._u


def old_prometheus(spark, sf_dir):
    # since r13 the shipped UDF is nondeterministic at its definition
    # and the call site applies it directly — patch in a fresh
    # DETERMINISTIC copy for the old form
    det = F.pandas_udf(prom.prometheus_canonicalize_udf.func, T.StringType())
    saved = prom.prometheus_canonicalize_udf
    prom.prometheus_canonicalize_udf = det
    try:
        return entry.q_prometheus_ingest(spark, sf_dir)
    finally:
        prom.prometheus_canonicalize_udf = saved


def old_template(spark, sf_dir):
    real = pl.make_graphite_canonicalize_udf
    pl.make_graphite_canonicalize_udf = lambda cfg: _DetWrap(real(cfg))
    try:
        return entry.q_template_tagging(spark, sf_dir)
    finally:
        pl.make_graphite_canonicalize_udf = real


#: pair name -> (old shape, shipped query)
PAIRS = {
    "two_sample": (old_two_sample, entry.q_two_sample_tests),
    "rollup_all": (old_rollup, entry.q_rollup_all),
    "top_revenue": (old_top_rev, entry.q_top_revenue_orders),
    "incr_dedup": (old_incremental_dedup, entry.q_incremental_dedup),
    "find_metrics": (old_find_metrics, entry.q_find_metrics_all),
    "ccnet_bands": (old_ccnet, entry.q_ccnet_bands),
    "prometheus": (old_prometheus, entry.q_prometheus_ingest),
    "template": (old_template, entry.q_template_tagging),
    "minhash": (old_minhash, entry.q_minhash_lsh_pairs),
    "entropy": (old_entropy, entry.q_entropy),
    "ngram_jaccard": (old_ngram, entry.q_ngram_jaccard),
}


def run_pair(spark, sf: str, mult: int, name: str) -> None:
    old, new = PAIRS[name]
    # equality pin: both forms produce the same rows
    o_rows = sorted(map(tuple, old(spark, sf).collect()))
    n_rows = sorted(map(tuple, new(spark, sf).collect()))
    if o_rows != n_rows:
        raise RuntimeError(
            f"{name}: old/new rows differ "
            f"({len(o_rows)} old vs {len(n_rows)} new rows)"
        )
    res = {"old": [], "new": []}
    for r in range(ROUNDS):
        order = (("old", old), ("new", new))
        for tag, fn in order if r % 2 == 0 else reversed(order):
            t0 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            res[tag].append(round(time.perf_counter() - t0, 3))
    o_min, n_min = min(res["old"]), min(res["new"])
    o_med = statistics.median(res["old"])
    n_med = statistics.median(res["new"])
    print(
        f"{name:14s} {mult}x rows={len(n_rows)}: "
        f"old min {o_min:.3f}/med {o_med:.3f}  "
        f"new min {n_min:.3f}/med {n_med:.3f}  "
        f"ratio min {n_min / o_min:.2f}/med {n_med / o_med:.2f}",
        flush=True,
    )
    print(f"  old{res['old']} new{res['new']}", flush=True)


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    mult = int(argv[0]) if argv else 1
    names = argv[1:] or list(PAIRS)
    unknown = [n for n in names if n not in PAIRS]
    if unknown:
        raise SystemExit(
            f"scale_ab.py: unknown pair(s): {' '.join(unknown)} "
            f"(pairs: {' '.join(PAIRS)})"
        )
    src = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not src:
        raise SystemExit("scale_ab.py: set SPARK_GRAFT_SF_DIR to the tables' directory")
    from carbon_clickhouse_spark.session import get_spark

    spark = get_spark(app_name=f"scale-ab-{mult}x")
    tmp = None
    try:
        if mult == 1:
            sf = src
        else:
            sf = tmp = tempfile.mkdtemp(prefix=f"ccs_scale_{mult}x_")
            build_replicas(spark, src, sf, mult)
        spark.read.parquet(f"{sf}/events.parquet").count()  # warm
        for name in names:
            run_pair(spark, sf, mult, name)
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
