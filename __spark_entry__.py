"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship smoke query (sf0.001).
``queries()``   — one entry per implemented operator family from SURVEY.md §2
                  plus the training-data-pipeline operators; each callable
                  takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()``— DuckDB-runnable ANSI SQL equivalents over the same tables.
                  Image-engine queries over synthetic binary blobs and the
                  approximate (LSH/ANN) operators read truth parquets from
                  the top-level ``oracles`` package (imported only inside
                  ``oracle_sql()``, never shipped with the library); q63 is
                  rows-only (no oracle entry).

Design notes for oracle exactness:
  * money sums are computed in integer cents (ROUND(x*100) -> BIGINT) so
    float summation order can never drift between engines;
  * timestamps in this testdata load as TIMESTAMP_NTZ in Spark 4 — naive in
    both engines, so year()/date_trunc/comparisons agree independent of TZ;
  * derived geometry (points from events/customers, boxes from parts) uses
    integer modulo arithmetic so coordinates are bit-identical in both
    engines; the Spark side still exercises the real cell-cover join path
    and must reproduce the plain theta-join SQL answer exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    return F.round(col * 100).cast("bigint")


# --- derived geometry (exact integer arithmetic, mirrored in SQL) -------------
def _event_points(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        ((F.col("user_id") % 3600) / 10.0 - 180.0).alias("x"),
        (((F.col("event_id") * 7) % 1700) / 10.0 - 85.0).alias("y"),
    )


_EVENT_POINTS_SQL = (
    "SELECT event_id, user_id, event_type, value, ts, "
    "(user_id % 3600) / 10.0 - 180.0 AS x, "
    "((event_id * 7) % 1700) / 10.0 - 85.0 AS y FROM events"
)


def _part_boxes(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    cx = ((F.col("p_partkey") * 13) % 3600) / 10.0 - 180.0
    cy = ((F.col("p_partkey") * 7) % 1700) / 10.0 - 85.0
    half = F.col("p_size") / 25.0
    return p.select(
        "p_partkey",
        "p_brand",
        (cx - half).alias("img_xmin"),
        (cy - half).alias("img_ymin"),
        (cx + half).alias("img_xmax"),
        (cy + half).alias("img_ymax"),
    )


_PART_BOXES_SQL = (
    "SELECT p_partkey, p_brand, "
    "((p_partkey * 13) % 3600) / 10.0 - 180.0 - p_size / 25.0 AS img_xmin, "
    "((p_partkey * 7) % 1700) / 10.0 - 85.0 - p_size / 25.0 AS img_ymin, "
    "((p_partkey * 13) % 3600) / 10.0 - 180.0 + p_size / 25.0 AS img_xmax, "
    "((p_partkey * 7) % 1700) / 10.0 - 85.0 + p_size / 25.0 AS img_ymax "
    "FROM part WHERE p_partkey % 20 = 0"
)


# ==============================================================================
# relational / reference-operator parity
# ==============================================================================
def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_filter_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
        & (F.col("o_orderstatus") == "O")
        & (F.col("o_totalprice") > 50000.0)
    ).select("o_orderkey", "o_custkey", _cents(F.col("o_totalprice")).alias("total_cents"))


def q03_semi_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        li.join(urgent.select("o_orderkey"), li.l_orderkey == urgent.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q04_latest_order_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
    )


def q05_asof_event_before_order(spark, sf_dir):
    """Backward as-of via the union-merge operator (one key shuffle, |L|+|R|
    rows, NO range-join pair explosion)."""
    from rasteret_spark.operators.asof import asof_join

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    o = o.select("o_orderkey", (F.col("o_custkey") % 150).alias("k"),
                 F.col("o_orderdate").alias("ots"))
    # as-of backward on a shifted clock: event ts minus 29 years aligns ranges
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        (F.col("ts") - F.expr("INTERVAL 29 YEARS")).alias("ets_adj"),
        "event_id",
    )
    out = asof_join(
        o, ev, key="k", left_ts="ots", right_ts="ets_adj",
        direction="backward", right_cols=["event_id"], tie_break="event_id",
    )
    return out.select("o_orderkey", "event_id")


def q06_extent(spark, sf_dir):
    pts = _event_points(spark, sf_dir)
    return pts.agg(
        F.min("x").alias("xmin"),
        F.min("y").alias("ymin"),
        F.max("x").alias("xmax"),
        F.max("y").alias("ymax"),
        F.count(F.lit(1)).alias("n"),
    )


def q07_mode_event_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("event_type").asc())
        .limit(1)  # TakeOrdered over the tiny post-agg set — no global window
        .select("event_type", "n")
    )


def q08_distinct_nations_per_region(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.countDistinct("n_nationkey").alias("n_nations"))
    )


def q09_topk_parts_by_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_cents")
    )
    return (
        rev.join(F.broadcast(p), rev.l_partkey == p.p_partkey)
        .orderBy(F.col("rev_cents").desc(), F.col("l_partkey").asc())
        .select("l_partkey", "p_name", "rev_cents")
        .limit(10)
    )


def q10_running_totals(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.sum(_cents(F.col("o_totalprice"))).over(w).alias("cum_cents"),
    )


# ==============================================================================
# spatial operators on derived geometry (cell join must equal theta-join SQL)
# ==============================================================================
def q11_cell_assign(spark, sf_dir):
    from rasteret_spark.operators.spatial_join import cell_of_point_col

    pts = _event_points(spark, sf_dir)
    return (
        pts.withColumn("cell", F.expr(cell_of_point_col("x", "y", 7)))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q12_pip_join(spark, sf_dir):
    from rasteret_spark.operators.spatial_join import point_in_bbox_join

    pts = _event_points(spark, sf_dir).filter(F.col("event_id") % 5 == 0)
    boxes = _part_boxes(spark, sf_dir)
    j = point_in_bbox_join(pts, boxes, res=6)
    return j.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_hits"))


def q13_knn(spark, sf_dir):
    from rasteret_spark.operators.knn import knn_cells

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 20)
    probes = c.select(
        F.col("c_custkey").alias("point_index"),
        (((F.col("c_custkey") * 37) % 3600) / 10.0 - 180.0).alias("x"),
        (((F.col("c_custkey") * 91) % 1700) / 10.0 - 85.0).alias("y"),
    )
    s = _t(spark, sf_dir, "supplier")
    targets = s.select(
        F.col("s_suppkey").alias("target_id"),
        (((F.col("s_suppkey") * 53) % 3600) / 10.0 - 180.0).alias("tx"),
        (((F.col("s_suppkey") * 17) % 1700) / 10.0 - 85.0).alias("ty"),
    )
    out = knn_cells(probes, targets, k=3, res=5)
    return out.select(
        F.col("point_index").alias("c_custkey"),
        F.col("target_id").alias("s_suppkey"),
        "rank",
    )


def q14_zonal_value_stats(spark, sf_dir):
    from rasteret_spark.operators.spatial_join import point_in_bbox_join

    pts = _event_points(spark, sf_dir)
    boxes = _part_boxes(spark, sf_dir)
    j = point_in_bbox_join(pts, boxes, res=6)
    return j.groupBy("p_partkey").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("sum_v1000"),
    )


def q15_latest_event_per_cell(spark, sf_dir):
    from rasteret_spark.operators.asof import latest_per_key
    from rasteret_spark.operators.spatial_join import cell_of_point_col

    pts = _event_points(spark, sf_dir).withColumn(
        "cell", F.expr(cell_of_point_col("x", "y", 5))
    )
    return latest_per_key(pts, ["cell"], order_col="ts", tie_break="event_id").select(
        "cell", "event_id"
    )


# ==============================================================================
# training-data pipeline operators (documents / embeddings)
# ==============================================================================
def q16_dedup_fingerprint(spark, sf_dir):
    from rasteret_spark.operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", fingerprint(F.col("text"), 32))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def q17_token_stats(spark, sf_dir):
    from rasteret_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(token_count(F.col("text")).cast("bigint")).alias("sum_tokens"),
        F.sum("n_chars").alias("sum_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q18_lang_id(spark, sf_dir):
    from rasteret_spark.operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.groupBy(lang_id(F.col("text")).alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q19_quality_buckets(spark, sf_dir):
    from rasteret_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("q", quality_score(F.col("text")))
        .groupBy(F.floor(F.col("q") * 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q20_minhash_groups(spark, sf_dir):
    """1-permutation minhash over word tokens (md5 keeps it SQL-reproducible)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    mh = toks.groupBy("doc_id").agg(F.min(F.md5(F.col("tok"))).alias("minhash"))
    return mh.groupBy("minhash").agg(
        F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_docs")
    )


def q21_embed_knn(spark, sf_dir):
    from rasteret_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = cosine_topk(emb, probes, k=3)
    return out.select("probe_id", F.col("vec_id").alias("neighbor_id"), "rank")


def q22_embed_near_pairs(spark, sf_dir):
    """Exact embedding near-pair search (cosine >= 0.4), native expressions."""
    from rasteret_spark.operators.similarity import cosine_expr

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b")
    )


def q23_windowed_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("sum_v1000"),
    )


def q24_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp(F.col("ts").cast("timestamp")) - F.unix_timestamp(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    marked = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    )
    return marked.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))


def q27_asof_forward(spark, sf_dir):
    """Forward as-of via the union-merge operator: for each sampled order,
    the EARLIEST event at or after the order date (same shifted clock as
    q05); ties on ets_adj break to the smallest event_id."""
    from rasteret_spark.operators.asof import asof_join

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    o = o.select("o_orderkey", (F.col("o_custkey") % 150).alias("k"),
                 F.col("o_orderdate").alias("ots"))
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        (F.col("ts") - F.expr("INTERVAL 26 YEARS")).alias("ets_adj"),
        "event_id",
    )
    out = asof_join(
        o, ev, key="k", left_ts="ots", right_ts="ets_adj",
        direction="forward", right_cols=["event_id"], tie_break="event_id",
    )
    # matched rows only: NULL event_ids force int->float64 in pandas on
    # both engines and NaN != NaN breaks exact value-hash comparison
    return out.filter(F.col("event_id").isNotNull()).select(
        "o_orderkey", F.col("event_id").cast("bigint").alias("event_id")
    )


def q28_interval_join(spark, sf_dir):
    """Interval join (W2 analogue as a join): per sampled order, how many
    events land in [order_date, order_date + 7 days) on the shifted clock."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    o = o.select("o_orderkey", (F.col("o_custkey") % 150).alias("k"),
                 F.col("o_orderdate").alias("ots"))
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("ek"),
        (F.col("ts") - F.expr("INTERVAL 29 YEARS")).alias("ets_adj"),
        F.col("event_id").alias("eid"),
    )
    j = o.join(
        ev,
        (F.col("k") == F.col("ek"))
        & (F.col("ets_adj") >= F.col("ots"))
        & (F.col("ets_adj") < F.col("ots") + F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    return j.groupBy("o_orderkey").agg(F.count("eid").alias("n_events"))


def q55_rollup_orders(spark, sf_dir):
    """Hierarchical rollup (year -> status subtotals -> grand total) — the
    multi-level aggregation surface (§2.5) as native grouping sets."""
    o = _t(spark, sf_dir, "orders")
    out = o.rollup(
        F.year(F.col("o_orderdate")).cast("int").alias("yr"), F.col("o_orderstatus")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"),
    )
    # sentinel the subtotal NULLs: NULL ints go float64/NaN in pandas on both
    # engines and NaN != NaN breaks the driver's exact value-hash
    return out.select(
        F.coalesce(F.col("yr"), F.lit(-1)).alias("yr"),
        F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("o_orderstatus"),
        "n_orders", "sum_cents",
    )


def q56_group_median(spark, sf_dir):
    """Exact lower-median per group via rank arithmetic (deterministic
    integer order statistic — no interpolation, engine-portable)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 1000).cast("bigint").alias("v1000")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("v1000").asc())
    return (
        v.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("bigint"))
        .select("event_type", F.col("v1000").alias("median_v1000"))
    )


def q57_running_total(spark, sf_dir):
    """Cumulative window frame per customer (rows unbounded-preceding ..
    current) over a deterministic (date, key) order."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    order_w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(order_w).alias("rn"),
        F.sum(_cents(F.col("o_totalprice")))
        .over(order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_cents"),
    )


def q25_first_valid_mosaic(spark, sf_dir):
    """First-valid-precedence reduce (A7): per user, newest event with
    value > 250 wins (explicit deterministic ordering)."""
    from rasteret_spark.operators.mosaic import first_valid_mosaic

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("event_id"), F.col("ts"),
        F.round(F.col("value") * 1000).cast("bigint").alias("v1000"),
        (F.col("value") > 250.0).alias("ok"),
    )
    out = first_valid_mosaic(
        ev, keys=("user_id",), value_col="v1000", valid_col="ok",
        order_col="ts", tie_break="event_id",
    )
    return out.select(
        "user_id",
        F.col("mosaic_value").alias("v1000"),
        F.col("winner_image_id").alias("winner_event_id"),
    )


def q26_chip_stack(spark, sf_dir):
    """Time-ordered series stacking (W3): per user, the ordered value series
    (summarized as first/last/n for a hashable output)."""
    from rasteret_spark.operators.mosaic import chip_stack

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 1000).cast("bigint").alias("v1000"),
    )
    s = chip_stack(ev, keys=("user_id",), value_col="v1000",
                   order_col="ts", tie_break="event_id")
    return s.select(
        "user_id",
        F.element_at("series", 1).alias("first_v"),
        F.element_at("series", -1).alias("last_v"),
        F.col("n_obs"),
    )


# ==============================================================================
# image engine over synthetic blobs + LSH/ANN ops (oracles: oracles/truth.py)
# ==============================================================================
IMAGE_CACHE = "/tmp/rasteret_spark_oracle"
# how long an encoded-image entry keyed on another generator fingerprint
# survives its last use: a checkout at another commit still in use keeps it
KEEP_OTHER_FINGERPRINT_S = 3600.0


def _fingerprinted(name: str) -> str:
    """``IMAGE_CACHE/<name>_<fingerprint>``: an encoded-image entry keyed on
    the encode-path fingerprint, so a codec or writer edit regenerates it."""
    from rasteret_spark.sources.synthetic import generator_fingerprint

    return f"{IMAGE_CACHE}/{name}_{generator_fingerprint()}"


def _prune_other_fingerprints(path: str) -> None:
    """Mark ``path`` used, and delete its siblings of the same name keyed on
    another fingerprint and untouched for ``KEEP_OTHER_FINGERPRINT_S`` (the
    rule ``oracles.truth_parquet`` applies to truth parquets)."""
    import contextlib
    import os
    import shutil
    import time

    d, name = os.path.split(path)
    stem = name.removesuffix(".parquet")
    suffix = name[len(stem):]
    head, _, fp = stem.rpartition("_")
    cutoff = time.time() - KEEP_OTHER_FINGERPRINT_S
    with contextlib.suppress(OSError):  # another user's entry keeps its time
        os.utime(path)
    for entry in os.scandir(d):
        other = entry.name.removesuffix(suffix) if suffix else entry.name
        o_head, _, o_fp = other.rpartition("_")
        if (
            entry.name == other + suffix and o_head == head
            and o_fp != fp and len(o_fp) == len(fp)
        ):
            # gone already (a concurrent writer pruned it) or not ours
            with contextlib.suppress(OSError):
                if entry.stat().st_mtime < cutoff:
                    if entry.is_dir():
                        shutil.rmtree(entry.path)
                    else:
                        os.remove(entry.path)


def _cached_images(spark, make_df, name: str, n: int, seed: int = 42):
    """A synthetic images table (``make_df(spark, n, seed)``), generated and
    encoded once per machine and read back as parquet: input prep kept out
    of every query wall, and no driver-side rows shipped inside tasks.
    Keyed on the encode-path fingerprint (``_fingerprinted``); written to a
    temp directory and renamed, so a reader never sees a partial table."""
    import os
    import shutil

    path = _fingerprinted(f"{name}_{n}_{seed}") + ".parquet"
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"
        make_df(spark, n, seed).write.mode("overwrite").parquet(tmp)
        try:
            os.replace(tmp, path)
        except OSError:  # a concurrent writer renamed its copy first
            shutil.rmtree(tmp, ignore_errors=True)
    _prune_other_fingerprints(path)
    return spark.read.parquet(path)


def _images_df(spark, n=120):
    from rasteret_spark.sources import synthetic as syn

    return _cached_images(spark, syn.spark_images_df, "images", n)


def _aois_df(spark, n=40):
    """Synthetic AOIs in the zonal contract (aoi_id, aoi_geometry,
    aoi_xmin..aoi_ymax)."""
    from rasteret_spark.sources import synthetic as syn

    return spark.createDataFrame(syn.aois_table(n).to_pandas()).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )


# The documents/embeddings truth mirrors are pinned to sf0.01 — the driver
# contract runs the correctness diff at sf=0.01 by definition (the
# pre-registered DuckDB views read that directory), and oracle_sql() is a
# static string surface with no sf parameter.  A gate run at any other sf
# would mismatch these four oracles by construction.
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def q40_image_enrich(spark, sf_dir):
    from rasteret_spark.operators.enrich import enrich_headers

    img = _images_df(spark)
    return enrich_headers(img).select(
        "image_id", "fmt", "meta.width", "meta.height", "meta.compression",
        "meta.predictor", "meta.epsg", F.size("meta.tile_offsets").alias("n_tiles"),
    )


def q41_image_zonal(spark, sf_dir):
    from rasteret_spark.operators import decode

    return decode.zonal_join(_images_df(spark), _aois_df(spark), res=7)


def q42_image_point_sample(spark, sf_dir):
    from rasteret_spark.operators import sampling
    from rasteret_spark.sources import synthetic as syn

    pts = spark.createDataFrame(syn.points_table(200).to_pandas())
    return sampling.sample_join(_images_df(spark), pts, res=8, max_ring=4)


def q43_image_dedup_phash(spark, sf_dir):
    from rasteret_spark.operators.dedup import exact_dedup

    img = _images_df(spark).select("image_id", "phash")
    return exact_dedup(img, "phash", "image_id")


def q44_image_psnr(spark, sf_dir):
    from rasteret_spark.operators.decode import psnr_check

    return psnr_check(_images_df(spark).select("image_id", "bytes", "fmt"))


def q45_simhash_near_dups(spark, sf_dir):
    from rasteret_spark.operators.dedup import simhash_near_dups

    d = _t(spark, sf_dir, "documents")
    return simhash_near_dups(d, "text", "doc_id", max_hamming=10)


def q46_minhash_lsh_pairs(spark, sf_dir):
    from rasteret_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "text", "doc_id", num_perm=16, bands=4,
                             jaccard_threshold=0.3).select("id_a", "id_b")


def q47_lsh_ann(spark, sf_dir):
    from rasteret_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return lsh_topk(emb, probes, k=3, dim=64, n_bits=4, n_tables=8).select(
        "probe_id", F.col("vec_id").alias("neighbor_id"), "rank"
    )


# the hotspot query: bbox + chip size/resolution/stride — the chip GRID is
# derived from it by chips.chip_requests (TorchGeo GridGeoSampler semantics),
# not hand-pinned (reference derives its grids from query bbox + res the same
# way, `src/rasteret/integrations/torchgeo.py:1013-1025`)
HOTSPOT_BBOX = (13.35, 52.448, 13.452, 52.55)
CHIP_SIZE, CHIP_RES, CHIP_STRIDE = 32, 0.001, 35
# q82 export grid: 96-px chips so the COG overview ladder is non-trivial
COG_SIZE, COG_RES, COG_STRIDE = 96, 0.001, 96


def _chips_df(spark):
    """Chip grid over the densest image hotspot, derived from the query."""
    from rasteret_spark.operators import chips

    return chips.chip_requests(
        spark, HOTSPOT_BBOX, CHIP_SIZE, CHIP_RES, stride=CHIP_STRIDE
    )


def _chip_pairs(spark):
    from rasteret_spark.operators import raster_mosaic as rmo, spatial_join as sj

    images = _images_df(spark)
    return rmo.chip_candidates(_chips_df(spark), sj.image_light(images), images, res=7)


def q48_image_mosaic(spark, sf_dir):
    """Pixel-level first-valid mosaic per chip (A7 on real pixels): decode ->
    nearest-reproject onto the chip grid -> newest-first per-pixel composite.
    Pinned bit-exact by tests/test_raster_mosaic.py against a full-decode
    oracle, including mosaic order-invariance; the driver additionally
    diffs it against the pre-encode truth mirror (oracles/truth.py)."""
    from rasteret_spark.operators import raster_mosaic as rmo

    out = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    return out.select(
        "chip_id", "band", "n_images", "n_contributing", "filled", "v_sum",
    )


def q49_image_latest_sample(spark, sf_dir):
    """The reference's `match="latest"` ordering (metadata winner-dedup BEFORE
    the decode UDF, `src/rasteret/core/point_sampling.py:350-514`): per probe
    point keep only the newest containing image, then decode winners only."""
    from rasteret_spark.operators import sampling, spatial_join as sj
    from rasteret_spark.operators.asof import latest_per_key
    from rasteret_spark.sources import synthetic as syn

    images = _images_df(spark)
    pts = spark.createDataFrame(syn.points_table(200).to_pandas())
    cands = sj.point_in_bbox_join(pts, sj.image_light(images), res=8).select(
        "point_index", "x", "y", "image_id", "datetime"
    )
    winners = latest_per_key(
        cands, ["point_index"], order_col="datetime", tie_break="image_id"
    ).select("point_index", "x", "y", "image_id")
    return sampling.sample_points(
        winners, images.select("image_id", "bytes"), max_ring=4
    )


def q50_image_zonal_bands(spark, sf_dir):
    """Band-parameterized zonal extraction (bands 0..2; images carry 1-3
    planar bands — rows fan out per AVAILABLE band)."""
    from rasteret_spark.operators import decode

    return decode.zonal_join(_images_df(spark), _aois_df(spark), res=7, bands=(0, 1, 2))


def q52_ivf_ann(spark, sf_dir):
    """IVF ANN: deterministic spherical-kmeans coarse quantizer (bounded
    driver-side sample), single-list target assignment, nprobe-list probe
    visits, exact cosine rerank.  Recall vs brute force gated in pytest."""
    from rasteret_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cent = sim.train_ivf_centroids(emb, n_clusters=16)
    out = sim.ivf_topk(emb, probes, k=3, centroids=cent, nprobe=6)
    return out.select("probe_id", F.col("vec_id").alias("neighbor_id"), "rank")


def q51_image_chip_stack(spark, sf_dir):
    """[T, C, H, W] chip tensors exploded as one row per (chip, t, band) —
    the reference's stacked chip serving (`torchgeo.py:997-1236`)."""
    from rasteret_spark.operators import raster_mosaic as rmo

    out = rmo.chip_stack_pixels(_chip_pairs(spark), bands=(0, 1))
    return out.select("chip_id", "t_index", "image_id", "band", "filled")


def q53_chip_serve(spark, sf_dir):
    """Chip-server API end-to-end (TorchGeo-adapter parity): seeded RANDOM
    chip requests over the query bbox + temporal interval + t-step slicing,
    served as [T, C, H, W] stacks.  Grid math, slicing, and completeness are
    pinned against a driver oracle in tests/test_chips.py."""
    import datetime as dt

    from rasteret_spark.operators import chips, spatial_join as sj

    images = _images_df(spark)
    reqs = chips.chip_requests(
        spark, HOTSPOT_BBOX, CHIP_SIZE, CHIP_RES, random_n=8, seed=42
    )
    out = chips.chip_serve(
        reqs, sj.image_light(images), images,
        t_start=dt.datetime(2023, 2, 1), t_end=dt.datetime(2023, 6, 1),
        t_step=2, bands=(0,),
    )
    return out.select("chip_id", "t_index", "image_id", "band", "filled", "status")


def q54_image_mosaic_average(spark, sf_dir):
    """First-valid mosaic with AVERAGE resampling (the reference's
    rasterio Resampling surface beyond nearest/bilinear,
    `src/rasteret/core/utils.py:215-344`) — downsample regime: chip pixels
    are 4x coarser than q48's, so each target pixel genuinely averages
    multiple source centers.  Kernel pinned in tests/test_resampling.py."""
    from rasteret_spark.operators import chips, raster_mosaic as rmo, spatial_join as sj

    images = _images_df(spark)
    coarse = chips.chip_requests(spark, HOTSPOT_BBOX, 16, 0.004, stride=16)
    pairs = rmo.chip_candidates(coarse, sj.image_light(images), images, res=7)
    out = rmo.first_valid_mosaic_pixels(pairs, bands=(0,), method="average")
    return out.select(
        "chip_id", "band", "n_images", "n_contributing", "filled",
        "v_sum", "status",
    )


def q60_image_mosaic_native_grid(spark, sf_dir):
    """First-valid mosaic on a NATIVE-CRS target grid (EPSG:32633, 100 m
    pixels): the reference's most-common-CRS mosaic path
    (`src/rasteret/core/execution.py:396-456`) — mixed-CRS sources (4326 +
    two UTM zones) composite onto a projected grid without a lon/lat hop in
    the output.  Grid math, candidate join and kernel pinned bit-exact vs a
    full-decode oracle in tests/test_native_grid.py."""
    from rasteret_spark import crs
    from rasteret_spark.operators import chips, raster_mosaic as rmo, spatial_join as sj

    images = _images_df(spark)
    gbox = crs.bbox_from_lonlat(32633, *HOTSPOT_BBOX)
    grid = chips.chip_requests(spark, gbox, 32, 100.0, stride=32, grid_epsg=32633)
    pairs = rmo.chip_candidates(grid, sj.image_light(images), images, res=7)
    out = rmo.first_valid_mosaic_pixels(pairs, bands=(0,))
    return out.select(
        "chip_id", "band", "grid_epsg", "n_images", "n_contributing", "filled",
        "v_sum", "capped", "status",
    )


def q61_chip_augment(spark, sf_dir):
    """Training-data augmentation fan-out over real chip stacks: every
    [H, W] time-step plane from q51's stack pipeline explodes into
    flip/rotation copies via PURE native array gathers (no UDF, no shuffle
    — plan-asserted in tests/test_augment.py), then per-plane checksums.
    The JVM-side analogue of the reference adapter's torchvision transform
    hook (`src/rasteret/integrations/torchgeo.py:292-299`)."""
    from rasteret_spark.operators import augment as ag, chips, spatial_join as sj

    images = _images_df(spark)
    grid = chips.chip_requests(spark, HOTSPOT_BBOX, CHIP_SIZE, CHIP_RES,
                               stride=CHIP_STRIDE)
    stack = chips.chip_serve(grid, sj.image_light(images), images, max_images_per_chip=4)
    aug = ag.augment_chips(
        stack.filter(F.col("status") == "ok"),
        ops=("identity", "hflip", "vflip", "rot90"),
    )
    return aug.select(
        "chip_id", "t_index", "band", "aug_op", "chip_w", "chip_h",
        F.aggregate(
            F.filter(F.col("values"), lambda v: v.isNotNull()),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("v_sum"),
        # position-sensitive checksum: proves the permutation actually moved
        # pixels (plain sums are permutation-invariant)
        F.aggregate(
            F.zip_with(
                F.col("values"),
                F.sequence(F.lit(1), F.size(F.col("values"))),
                lambda v, i: F.coalesce(v, F.lit(0.0)) * i.cast("double"),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("weighted"),
    )


def _tiff_images_cached(spark, n=96, seed=42):
    """Deterministic TIFF images table (pure-Python LZW encoding is the slow
    part of generating it), cached like ``_images_df``."""
    from rasteret_spark.sources import synthetic as syn

    return _cached_images(spark, syn.spark_tiff_images_df, "tiff_images", n, seed)


def q62_tiff_enrich_zonal(spark, sf_dir):
    """Real-container path: a table of GeoTIFF/BigTIFF blobs (mixed classic/
    BigTIFF, LE/BE, tiled/stripped, none/deflate/packbits/LZW, predictors
    1/2/3, PixelIsPoint rows) runs the SAME header-cache enrichment + bbox
    join + zonal pipeline as the mini-raster container — the reference's
    core asset re-expressed (`src/rasteret/fetch/header_parser.py:33-657`,
    fixtures validated offline in tests/test_tiff.py).  Emits per-(image,
    aoi, band) zonal stats joined with the parsed header facts."""
    from rasteret_spark.operators import decode
    from rasteret_spark.operators.enrich import enrich_headers

    images = _tiff_images_cached(spark, 96)
    enriched = enrich_headers(images).select(
        "image_id", "meta.container", "meta.byte_order",
        F.col("meta.compression").alias("codec"), "meta.predictor",
    )
    zs = decode.zonal_join(images, _aois_df(spark), res=7)
    return zs.join(F.broadcast(enriched), "image_id").select(
        "image_id", "aoi_id", "band", "container", "byte_order", "codec",
        "predictor", "px_count", "valid_count", "v_mean", "status",
    )


def q67_overview_pixels(spark, sf_dir):
    """Overview-pixel parity surface next to q63's byte economics: every
    non-jpeg TIFF serves the same centered window at factors 1 / 2 / 4
    through ``read_window_at_res`` — level choice, scaled window dims and a
    position-weighted checksum, all DuckDB-oracled against pre-encode truth
    decimations (overview IFDs are written as exact ``[::f, ::f]``
    nearest-neighbour decimations; jpeg pyramids are lossy per level, so
    they stay on q63's rows-only surface)."""
    import pandas as pd

    from rasteret_spark.operators.util import spread_compute

    images = _tiff_images_cached(spark, 96)

    schema = (
        "image_id string, factor int, n_levels int, level int, "
        "win_w int, win_h int, checksum double, status string"
    )

    def run(batches):
        import numpy as np

        from rasteret_spark.format import tiff

        for pdf in batches:
            out = []
            for image_id, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    blob = bytes(blob)
                    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
                    if metas[0].compression == 7:  # new-style JPEG: lossy pyramids
                        continue
                    m0 = metas[0]
                    w, h = m0.width, m0.height
                    c0, r0 = w // 4, h // 4
                    ww, wh = w // 2, h // 2
                    for factor in (1, 2, 4):
                        win, lv = tiff.read_window_at_res(
                            blob, c0, r0, ww, wh,
                            factor=float(factor), metas=metas,
                        )
                        v = np.asarray(win, dtype=np.float64).ravel()
                        out.append({
                            "image_id": image_id, "factor": factor,
                            "n_levels": len(metas), "level": lv,
                            "win_w": int(win.shape[1]), "win_h": int(win.shape[0]),
                            "checksum": float(
                                np.nansum(v * np.arange(1, v.size + 1))
                            ),
                            "status": "ok",
                        })
                except Exception as e:  # quarantine row
                    out.append({
                        "image_id": image_id, "factor": -1, "n_levels": None,
                        "level": None, "win_w": None, "win_h": None,
                        "checksum": None, "status": str(e)[:80],
                    })
            yield pd.DataFrame(out)

    src = spread_compute(images.select("image_id", "bytes"))
    return src.mapInPandas(run, schema=schema)


def q68_label_masks(spark, sf_dir):
    """Training-label rasterization: the hotspot chip grid x the AOI polygon
    table -> per-chip segmentation masks (class of the first containing
    polygon in aoi_id order per pixel center; 0 = background) — the label
    side of an (imagery, label) training pair on the SAME grid q48/q53
    serve imagery for.  DuckDB-oracled against a structurally independent
    per-pixel first-containing-polygon mirror."""
    from rasteret_spark.operators.labels import label_masks
    from rasteret_spark.sources import synthetic as syn

    grid = _chips_df(spark)
    aois = spark.createDataFrame(syn.aois_table(40).to_pandas())
    out = label_masks(grid, aois, class_col="crop")
    return out.select(
        "chip_id", "n_polys", "n_labeled",
        F.aggregate(
            F.zip_with(
                F.col("mask"),
                F.sequence(F.lit(1), F.size(F.col("mask"))),
                lambda v, i: v.cast("bigint") * i.cast("bigint"),
            ),
            F.lit(0).cast("bigint"), lambda acc, v: acc + v,
        ).alias("checksum"),
        "status",
    )


def q69_gap_fill(spark, sf_dir):
    """Temporal gap-fill over real chip stacks: every cloud/nodata pixel gap
    interpolates linearly in time between its nearest valid neighbours
    (edges copy the nearest valid) — the time-axis-repair companion to
    q65's median composite (`operators/timeseries.gap_fill`, one group
    shuffle, accumulate-vectorized numpy kernel).  DuckDB-oracled against a
    structurally independent per-pixel bisect mirror."""
    from rasteret_spark.operators import raster_mosaic as rmo
    from rasteret_spark.operators.timeseries import gap_fill

    stack = rmo.chip_stack_pixels(_chip_pairs(spark), bands=(0, 1))
    out = gap_fill(stack.filter(F.col("status") == "ok"))
    return out.select(
        "chip_id", "t_index", "image_id", "band", "n_missing", "n_filled",
        F.aggregate(
            F.zip_with(
                F.col("values"),
                F.sequence(F.lit(1), F.size(F.col("values"))),
                lambda v, i: F.coalesce(v, F.lit(0.0)) * i.cast("double"),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("weighted"),
    )


def q70_class_stats(spark, sf_dir):
    """Class-stratified pixel statistics over (imagery, label) pairs: q48's
    first-valid mosaic canvases joined with q68's label masks on the SAME
    chip grid, per-(chip, band, class) counts and radiometry — the
    training-data QA surface (class balance, per-class reflectance).  One
    vectorized numpy ``mapInPandas`` with deterministic array-order folds;
    DuckDB-oracled against the truth-side canvas x mask recomputation."""
    from rasteret_spark.operators import raster_mosaic as rmo
    from rasteret_spark.operators.labels import class_stats, label_masks
    from rasteret_spark.sources import synthetic as syn

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    aois = spark.createDataFrame(syn.aois_table(40).to_pandas())
    masks = label_masks(_chips_df(spark), aois, class_col="crop")
    return class_stats(
        masks.filter(F.col("status") == "ok"),
        mosaic.select("chip_id", "band", "values"),
    )


def q71_focal_filters(spark, sf_dir):
    """Focal raster filtering where the pixels are (operators/focal.py):
    first-valid mosaic -> 3x3 focal mean (nodata-tolerant smoothing) ->
    Sobel gradient magnitude of the SMOOTHED band — the texture/edge
    features a chip-quality screen computes, as one vectorized numpy
    ``mapInPandas`` per operator (zero added shuffles; plan-asserted in
    tests/test_focal.py).  DuckDB-oracled against an independent numpy
    replicate-pad mirror from pre-encode generator truth."""
    from rasteret_spark.operators import focal
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    fm = focal.focal_stats(mosaic, stat="mean", radius=1, out_col="fm")
    sb = focal.sobel(fm, value_col="fm", out_col="sb")

    def _wsum(col):
        return F.aggregate(
            F.zip_with(
                F.col(col),
                F.sequence(F.lit(1), F.size(F.col(col))),
                lambda v, i: F.coalesce(v, F.lit(0.0)) * i.cast("double"),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        )

    def _filled(col):
        return F.size(F.filter(F.col(col), lambda v: v.isNotNull()))

    return sb.select(
        "chip_id", "band",
        _filled("fm").alias("fm_filled"), _wsum("fm").alias("fm_wsum"),
        _filled("sb").alias("sb_filled"), _wsum("sb").alias("sb_wsum"),
    )


# hotspot scenes cluster Jan-Jun 2023 (newest-32 depth cap), so the epoch
# split sits at the cluster's median; threshold ~= the median |delta|
CHANGE_SPLIT_TS = "2023-03-20 00:00:00"
CHANGE_THRESHOLD = 300.0


def q72_change_detect(spark, sf_dir):
    """Two-epoch per-pixel change detection (operators/band_math.
    change_detect): median-composite the chip stack before/after a split
    timestamp in ONE groupBy (conditional collect_lists — no composite
    self-join), delta the composites per pixel, and count
    ``|delta| > threshold`` changed pixels — the deforestation screen.
    One vectorized numpy pass per group after the stack decode; DuckDB-oracled
    against an independent numpy two-epoch mirror from pre-encode
    generator truth (oracles/truth.change_detect_truth_pdf)."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    stack = rmo.chip_stack_pixels(_chip_pairs(spark), bands=(0, 1))
    out = bm.change_detect(
        stack, CHANGE_SPLIT_TS, stat="median", threshold=CHANGE_THRESHOLD
    )
    wsum = F.aggregate(
        F.zip_with(
            F.col("delta"),
            F.sequence(F.lit(1), F.size(F.col("delta"))),
            lambda v, i: F.coalesce(v, F.lit(0.0)) * i.cast("double"),
        ),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    return out.select(
        "chip_id", "band", "n_before", "n_after",
        "delta_valid", "delta_changed", wsum.alias("delta_wsum"),
    )


# steepness cut in squared-gradient (tan^2) units, transcendental-free so
# both sides compare exactly; the synthetic chips are reflectance-over-
# degrees, so the scale sits between the surface's median and upper
# quartile |grad|^2 (~6.4e7 / ~3.0e8) rather than at a DEM-style angle
STEEP_TAN2 = 1.0e8


def q74_terrain(spark, sf_dir):
    """Terrain derivatives where the pixels are (operators/focal.terrain):
    first-valid mosaic -> Horn 3x3 gradients -> slope/aspect/hillshade as
    one vectorized numpy ``mapInPandas`` (zero added shuffles).
    The DuckDB oracle pins the transcendental-free surface bit-exactly
    (gradient folds + steep-pixel counts vs an independent numpy Horn
    mirror from pre-encode truth); the trig outputs are pinned by
    tolerance + compass-convention oracles in tests/test_focal.py."""
    from rasteret_spark.operators import focal
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    # only the gradient surfaces feed the query's output columns below;
    # requesting slope/aspect/hillshade too made the per-pixel struct carry
    # three trig expressions Catalyst cannot prune through the transform
    # lambda (dead per-pixel compute — the full 5-output surface stays
    # pinned by tests/test_focal.py)
    t = focal.terrain(mosaic, outs=("dzdx", "dzdy"))

    def _wsum(col):
        return F.aggregate(
            F.zip_with(
                F.col(col),
                F.sequence(F.lit(1), F.size(F.col(col))),
                lambda v, i: F.coalesce(v, F.lit(0.0)) * i.cast("double"),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        )

    steep = F.size(
        F.filter(
            F.zip_with(
                F.col("dzdx"), F.col("dzdy"),
                lambda p, q: F.when(
                    p.isNotNull(), p * p + q * q > F.lit(STEEP_TAN2)
                ),
            ),
            lambda b: b,
        )
    )
    return t.select(
        "chip_id", "band",
        F.size(
            F.filter(F.col("dzdx"), lambda v: v.isNotNull())
        ).alias("grad_valid"),
        _wsum("dzdx").alias("dzdx_wsum"),
        _wsum("dzdy").alias("dzdy_wsum"),
        steep.alias("steep_px"),
    )


def q75_chip_stats(spark, sf_dir):
    """Per-chip radiometric QA (operators/band_math.chip_stats): exact
    linear-interpolated quantiles, range, null fraction and saturation
    counts over mosaic canvases — the chip-quality screen, a ZERO-shuffle
    Catalyst projection.  DuckDB-oracled bit-exactly against a hand-coded
    numpy quantile mirror from pre-encode truth (same arithmetic tree)."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    out = bm.chip_stats(mosaic, probs=(0.25, 0.5, 0.75))
    return out.select(
        "chip_id", "band", "n_valid", "null_frac", "vmin", "vmax",
        "at_max_px", "q25", "q50", "q75",
    )


def q77_spatial_stats(spark, sf_dir):
    """Per-chip spatial autocorrelation (operators/focal.spatial_stats):
    rook-contiguity Moran's I and Geary's C over mosaic canvases — the
    clustering/texture screen.  ZERO shuffles (one vectorized numpy
    ``mapInPandas``), no transcendentals, every fold deterministically
    ordered; DuckDB-oracled bit-exactly against an independent numpy
    mirror from pre-encode truth."""
    from rasteret_spark.operators import focal
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    return focal.spatial_stats(mosaic).select(
        "chip_id", "band", "n_valid", "w_pairs", "morans_i", "gearys_c",
    )


def q76_build_overviews(spark, sf_dir):
    """Distributed overview building (operators/pyramids.build_overviews —
    the engine's gdaladdo): every strip TIFF gains a nearest-neighbour
    [2, 4] pyramid with its container/codec/georeferencing preserved;
    already-pyramided rows pass through, lossy full-res rows are never
    re-encoded.  A verify pass re-parses each built blob and checksums the
    factor-2 level's band-0 plane; DuckDB-oracled against the pre-encode
    truth decimation (lossless codecs round-trip bit-exactly)."""
    import pandas as pd

    from rasteret_spark.operators import pyramids

    images = _tiff_images_cached(spark, 96)
    built = pyramids.build_overviews(images, factors=(2, 4))

    schema = ("image_id string, status string, n_levels_in int, "
              "n_levels_out int, ov_checksum double")

    def verify(batches):
        import numpy as np

        from rasteret_spark.format import container

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                cs = None
                if row["status"] == "ok":
                    a = container.decode_full(
                        bytes(row["bytes"]), band=0, ifd=1
                    ).astype(np.float64).ravel()
                    cs = float(np.nansum(a * np.arange(1, a.size + 1)))
                out.append({
                    "image_id": row["image_id"],
                    "status": row["status"],
                    "n_levels_in": int(row["n_levels_in"]),
                    "n_levels_out": int(row["n_levels_out"]),
                    "ov_checksum": cs,
                })
            yield pd.DataFrame(out, columns=[
                "image_id", "status", "n_levels_in", "n_levels_out",
                "ov_checksum",
            ])

    return built.mapInPandas(verify, schema=schema)


QA_BIT = 1
HIST_LO, HIST_HI, HIST_BINS = 0.0, 4000.0, 8


def _wsum_arr(col):
    """Position-weighted sequential fold of a pixel array column (nulls as
    0) — the deterministic, order-pinned scalar the oracle hash compares."""
    return F.aggregate(
        F.zip_with(
            F.col(col),
            F.sequence(F.lit(1), F.size(F.col(col))),
            lambda v, i: F.coalesce(v, F.lit(0.0)) * i.cast("double"),
        ),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def q78_qa_mask(spark, sf_dir):
    """QA-bitmask cloud-style masking (operators/band_math.qa_mask): band 1
    of each chip composite is read as an integer-coded QA word, bit 1
    flags a pixel, and flagged/unknown pixels null out of the band-0 data
    — the Landsat QA_PIXEL workflow executed WHERE the pixels are.  One
    pivot shuffle, pure Catalyst bit math; DuckDB-oracled bit-exactly
    against an independent numpy mirror from pre-encode truth."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    out = bm.qa_mask(mosaic, data_band=0, qa_band=1, bit=QA_BIT)
    return out.select(
        "chip_id", "qa_valid", "qa_flagged", "kept_px",
        _wsum_arr("masked").alias("masked_wsum"),
    )


def q79_stretch(spark, sf_dir):
    """Robust percentile contrast stretch (operators/band_math.stretch):
    per-chip p2/p98 cut points, pixels rescaled to [0, 1] — the
    training-chip normalization pass, ZERO shuffles past the mosaic.
    DuckDB-oracled bit-exactly (cut points, clip counts and the
    position-weighted fold of the stretched canvas)."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    out = bm.stretch(mosaic, p_lo=0.02, p_hi=0.98)
    return out.select(
        "chip_id", "band", "cut_lo", "cut_hi", "clip_lo_px", "clip_hi_px",
        _wsum_arr("stretched").alias("stretch_wsum"),
    )


def q80_chip_histogram(spark, sf_dir):
    """Per-chip fixed-bin histograms (operators/band_math.chip_histogram):
    8 bins over [0, 4000) with edge-bin clamping — the distribution
    fingerprint for dataset balance / domain-shift reports.  ZERO added
    shuffles (a projection over the mosaic rows); integer bin counts are
    order-independent, so the DuckDB oracle is exact by construction."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    out = bm.chip_histogram(
        mosaic, lo=HIST_LO, hi=HIST_HI, n_bins=HIST_BINS
    )
    return out.select(
        "chip_id", "band", *[f"h{k}" for k in range(HIST_BINS)]
    )


def q81_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/splits): every
    chip hashes to a split via Catalyst xxhash64 — stable across runs,
    partitionings and appends, unlike randomSplit.  Each row carries its
    composite valid count and position-weighted fold so the oracle checks
    the split is bound to the RIGHT chip contents; the hash itself is
    mirrored bit-equal from the public XXH64 spec in oracles/truth.py."""
    from rasteret_spark.operators import raster_mosaic as rmo
    from rasteret_spark.operators import splits

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    out = splits.assign_split(mosaic, key_col="chip_id")
    return out.select(
        "chip_id", "band", "split",
        F.size(
            F.filter(F.col("values"), lambda v: v.isNotNull())
        ).alias("n_valid"),
        _wsum_arr("values").alias("v_wsum"),
    )


def q82_cog_export(spark, sf_dir):
    """Distributed COG export + independent file re-read (the sink leg the
    read-only reference lacks): mosaic the hotspot on a 96-px grid, write
    one tiled+overviewed GeoTIFF per chip through the writer registry
    (`operators/raster_sink.write_cogs` — ONE shuffle, executor-side atomic
    writes, per-chip quarantine), then verify from the FILES alone
    (binaryFile scan -> IFD chain parse -> full decode).  The DuckDB oracle
    (oracles/truth.cog_export_truth_pdf) mirrors the float32 storage cast
    and the overview ladder from pre-encode truth, so pixel sums from the
    written files are bit-exact, not approximate."""
    from rasteret_spark.operators import chips as ch
    from rasteret_spark.operators import raster_mosaic as rmo
    from rasteret_spark.operators import raster_sink as rsink
    from rasteret_spark.operators import spatial_join as sj

    images = _images_df(spark)
    grid = ch.chip_requests(
        spark, HOTSPOT_BBOX, COG_SIZE, COG_RES, stride=COG_STRIDE
    )
    pairs = rmo.chip_candidates(grid, sj.image_light(images), images, res=7)
    px = rmo.first_valid_mosaic_pixels(pairs, bands=(0, 1))
    out_dir = _fingerprinted(f"cogs_{COG_SIZE}_{COG_RES}_{COG_STRIDE}")
    man = rsink.write_cogs(px, out_dir)
    bad = man.filter(F.col("status") != "ok").count()  # materializes the export
    if bad:
        raise RuntimeError(f"{bad} chips failed COG export")
    _prune_other_fingerprints(out_dir)

    files = spark.read.format("binaryFile").load(out_dir + "/*.tif")

    def verify(batches):
        import numpy as np
        import pandas as pd

        from rasteret_spark.format import container
        from rasteret_spark.format import tiff as tf

        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                blob = bytes(r["content"])
                chip_id = r["path"].rsplit("/", 1)[1].removesuffix(".tif")
                metas = tf.parse_tiff_chain(tf.blob_read(blob))
                full = container.decode_full(blob)
                arr = full if full.ndim == 3 else full[None]
                for bi in range(arr.shape[0]):
                    a64 = arr[bi].astype(np.float64)
                    filled = int((~np.isnan(a64)).sum())
                    out.append(
                        {
                            "chip_id": chip_id,
                            "band": bi,
                            "width": metas[0].width,
                            "height": metas[0].height,
                            "n_overviews": len(metas) - 1,
                            "filled": filled,
                            "v_sum": float(np.nansum(a64)) if filled else None,
                        }
                    )
            yield pd.DataFrame(out)

    return files.mapInPandas(
        verify,
        schema=(
            "chip_id string, band int, width int, height int, "
            "n_overviews int, filled bigint, v_sum double"
        ),
    )


def q83_shard_export(spark, sf_dir):
    """WebDataset-style tar-shard export + independent read-back: mosaic
    chips hash-assign to shards (Catalyst xxhash64, append-stable), each
    shard serializes as ONE deterministic ustar tar of <chip>.npy +
    <chip>.json samples (`operators/shard_sink` — one shuffle, executor-
    side writes), then samples are verified from the FILES alone through
    the stdlib tarfile parser (an implementation the writer shares nothing
    with).  Oracle: oracles/truth.shard_export_truth_pdf mirrors the
    float32 stack and the XXH64 shard assignment from pre-encode truth."""
    from rasteret_spark.operators import raster_mosaic as rmo
    from rasteret_spark.operators import shard_sink as ss

    px = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    out_dir = _fingerprinted("shards_4")
    man = ss.write_tar_shards(px, out_dir, n_shards=4)
    bad = man.filter(F.col("status") != "ok").count()  # materializes the export
    if bad:
        raise RuntimeError(f"{bad} shards failed export")
    _prune_other_fingerprints(out_dir)
    return ss.read_tar_shards(spark, out_dir + "/*.tar").select(
        "chip_id", "shard_id", "n_bands", "height", "width", "filled", "v_sum"
    )


def q85_global_band_stats(spark, sf_dir):
    """Dataset-wide per-band normalization constants (mean/std/range/
    coverage) over real mosaic pixels (`band_math.global_band_stats`):
    each row folds to scalars JVM-side, ONE tiny shuffle of partials.
    deterministic=True pins the float fold order (sorted per-chip
    partials) so the oracle compare is bit-exact; the default partial-sum
    path is the 100 TB shape.  Oracle: oracles/truth.
    global_band_stats_truth_pdf mirrors the identical IEEE fold."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    px = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1)).filter(F.col("values").isNotNull())
    return bm.global_band_stats(px, deterministic=True)


def q84_image_caption_shards(spark, sf_dir):
    """Image+caption WebDataset export + independent read-back: whole
    images decode through the container dispatch and serialize with their
    caption bytes VERBATIM as <id>.npy/<id>.txt/<id>.json tar samples
    (`operators/shard_sink.write_image_shards` — one shuffle, xxhash64
    append-stable shard assignment, executor-side writes), then samples
    are verified from the FILES alone via the stdlib tarfile parser.
    Byte-for-byte caption equality is part of the contract.  Oracle:
    oracles/truth.image_shard_truth_pdf mirrors the float32 pixel sums,
    captions and XXH64 shard assignment from pre-encode generator truth."""
    from rasteret_spark.operators import shard_sink as ss

    images = _images_df(spark).select("image_id", "bytes", "caption")
    out_dir = _fingerprinted("imgshards_4")
    man = ss.write_image_shards(images, out_dir, n_shards=4)
    bad = man.filter(F.col("status") != "ok").count()  # materializes the export
    if bad:
        raise RuntimeError(f"{bad} shards failed export")
    _prune_other_fingerprints(out_dir)
    return ss.read_image_shards(spark, out_dir + "/*.tar")


def q73_temporal_trend(spark, sf_dir):
    """Per-pixel least-squares temporal trend over real chip stacks
    (operators/band_math.temporal_trend): OLS slope/intercept of
    value ~ days-since-first-scene at every pixel, the greening/drift
    screen.  ONE shuffle; the fold is a fixed-order numpy pass over
    a deterministically sorted observation array, so the DuckDB oracle
    (oracles/truth.temporal_trend_truth_pdf) matches bit-exactly."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    stack = rmo.chip_stack_pixels(_chip_pairs(spark), bands=(0, 1))
    out = bm.temporal_trend(stack)

    def _wsum(col):
        return F.aggregate(
            F.zip_with(
                F.col(col),
                F.sequence(F.lit(1), F.size(F.col(col))),
                lambda v, i: F.coalesce(v, F.lit(0.0)) * i.cast("double"),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        )

    return out.select(
        "chip_id", "band", "n_t",
        F.size(
            F.filter(F.col("slope"), lambda v: v.isNotNull())
        ).alias("slope_valid"),
        _wsum("slope").alias("slope_wsum"),
        _wsum("intercept").alias("intercept_wsum"),
    )


def q63_overview_serve(spark, sf_dir):
    """COG overview serving: for every pyramid-bearing TIFF, read the same
    centered window at full resolution AND at factor-4 zoom — the coarse
    read must come from a reduced-resolution IFD (level > 0) and transfer a
    fraction of the bytes (the zoom economics that make 100 TB browse/chip
    workloads affordable).  Emits per-image level choice, byte accounting
    and position-weighted checksums (overview pixels are exact
    nearest-neighbour decimations, pinned by pytest)."""
    import pandas as pd

    from rasteret_spark.operators.util import spread_compute

    images = _tiff_images_cached(spark, 96)

    schema = (
        "image_id string, n_levels int, level_full int, level_ov int, "
        "bytes_full long, bytes_ov long, win_px_full long, win_px_ov long, "
        "checksum_ov double, status string"
    )

    def run(batches):
        import numpy as np

        from rasteret_spark.format import tiff

        class _Count:
            """A blob that counts the bytes sliced out of it."""

            def __init__(self, blob):
                self.blob, self.n = blob, 0

            def __getitem__(self, sl):
                self.n += sl.stop - sl.start
                return self.blob[sl]

        for pdf in batches:
            out = []
            for image_id, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    blob = bytes(blob)
                    metas = tiff.parse_tiff_chain(tiff.blob_read(blob))
                    m0 = metas[0]
                    w, h = m0.width, m0.height
                    c0, r0 = w // 4, h // 4
                    ww, wh = w // 2, h // 2
                    rd = _Count(blob)
                    win_f, lf = tiff.read_window_at_res(
                        rd, c0, r0, ww, wh, factor=1.0, metas=metas)
                    bytes_full = rd.n
                    rd = _Count(blob)
                    win_o, lo = tiff.read_window_at_res(
                        rd, c0, r0, ww, wh, factor=4.0, metas=metas)
                    v = np.asarray(win_o, dtype=np.float64).ravel()
                    cks = float(np.nansum(v * np.arange(1, v.size + 1)))
                    out.append({
                        "image_id": image_id, "n_levels": len(metas),
                        "level_full": lf, "level_ov": lo,
                        "bytes_full": bytes_full, "bytes_ov": rd.n,
                        "win_px_full": int(win_f.size),
                        "win_px_ov": int(win_o.size),
                        "checksum_ov": round(cks, 3), "status": "ok",
                    })
                except Exception as e:  # quarantine row
                    out.append({
                        "image_id": image_id, "n_levels": None,
                        "level_full": None, "level_ov": None,
                        "bytes_full": None, "bytes_ov": None,
                        "win_px_full": None, "win_px_ov": None,
                        "checksum_ov": None, "status": str(e)[:80],
                    })
            yield pd.DataFrame(out)

    src = spread_compute(images.select("image_id", "bytes"))
    return src.mapInPandas(run, schema=schema)


def q64_band_index(spark, sf_dir):
    """Distributed NDVI-family band math: two-band first-valid mosaic ->
    normalized difference (band1 vs band0) evaluated JVM-side with zip_with
    (operators/band_math.py — no Python UDF, one pivot shuffle) -> per-chip
    index stats + a vegetation-style threshold count.  The reference runs
    this arithmetic driver-side on assembled xarrays
    (`examples/landsat_xarray.py:58`); here it runs where the pixels are.
    Pinned vs a numpy oracle over the same mosaic rows in
    tests/test_band_math.py."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    mosaic = rmo.first_valid_mosaic_pixels(_chip_pairs(spark), bands=(0, 1))
    nd = bm.normalized_difference(mosaic, 1, 0)
    masked = bm.threshold_mask(nd, "nd", lo=0.0)
    return masked.select(
        "chip_id", "nd_filled", "nd_mean", "nd_min", "nd_max",
        F.col("mask_count").alias("n_nonneg"),
    )


def q65_temporal_median(spark, sf_dir):
    """Per-pixel temporal MEDIAN composite over real chip stacks — the
    cloud-free monthly-composite primitive (nulls skipped per pixel, not
    per scene).  Evaluated by operators/band_math.temporal_composite (one
    shuffle, then one vectorized numpy ``mapInPandas``);
    numpy nanmedian-exact incl. even-count interpolation per
    tests/test_band_math.py::TestTemporalComposite."""
    from rasteret_spark.operators import band_math as bm
    from rasteret_spark.operators import raster_mosaic as rmo

    stack = rmo.chip_stack_pixels(_chip_pairs(spark), bands=(0, 1))
    med = bm.temporal_composite(stack, stat="median")
    valid = F.filter(F.col("composite"), lambda v: v.isNotNull())
    return med.select(
        "chip_id", "band", "n_t",
        F.size(valid).alias("n_valid_px"),
        F.when(
            F.size(valid) > 0,
            F.aggregate(valid, F.lit(0.0), lambda a, v: a + v) / F.size(valid),
        ).alias("median_mean"),
    )


def q66_pixel_series(spark, sf_dir):
    """Per-point temporal drill: sample EVERY containing image (not just the
    latest) and fold valid observations into one chronological series row
    per (point, band) with n_obs / t_first / t_last / mean — the
    time-series-analysis primitive over the sampling surface
    (operators/sampling.point_time_series; fold is pure Catalyst
    array_sort + aggregate).  Pinned vs a pandas fold of the flat samples
    in tests/test_collection.py::test_pixel_series_matches_flat_samples."""
    from rasteret_spark.operators import sampling
    from rasteret_spark.sources import synthetic as syn

    images = _images_df(spark)
    pts = spark.createDataFrame(syn.points_table(200).to_pandas())
    samples = sampling.sample_join(images, pts, res=8, bands=(0,))
    series = sampling.point_time_series(
        samples, images.select("image_id", "datetime")
    )
    return series.select(
        "point_index", "band", "n_obs", "t_first", "t_last", "v_mean",
    )


def q59_bpe_token_stats(spark, sf_dir):
    """BPE-ish regex tokenization (word/number/punct pieces) aggregated per
    source — the second tokenizer surface next to q17's whitespace counts."""
    from rasteret_spark.operators.text import word_tokens

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(word_tokens(F.col("text"))).cast("bigint")).alias("sum_pieces"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q58_image_feature_pairs(spark, sf_dir):
    """Multimodal -> similarity composition: decode every image through the
    kernel of its sniffed media kind into a FEATURE_DIM descriptor, then
    hyperplane-LSH near-dup pairs over the descriptors (the feature-extract stage of a
    training-data pipeline).  Planted exact-duplicate images (the synthetic
    generator's dup_every rule) surface at cosine ~1."""
    from rasteret_spark.operators import multimodal, similarity

    images = _images_df(spark)
    feats = multimodal.extract_features(images).filter(F.col("status") == "ok")
    return similarity.cosine_near_dup_pairs(
        feats, threshold=0.999, dim=multimodal.FEATURE_DIM,
        n_bits=6, n_tables=6, id_col="image_id", vec_col="features",
    ).select("id_a", "id_b")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-sample pipeline end-to-end on sf0.001.

    events(sf0.001) -> deterministic probe points around the densest image
    hot-spot -> header-cache enrichment -> cell-cover point-in-image join ->
    per-image tile-dedup decode + ring-fallback sampling -> metadata join-back.
    Exercises decode + cell join + tile assignment (the headline metric path).
    """
    from rasteret_spark.operators import sampling
    from rasteret_spark.sources import synthetic as syn

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    points = events.select(
        F.col("event_id").alias("point_index"),
        (F.lit(13.4) + ((F.col("user_id") % 101) - 50) * 0.002).alias("x"),
        (F.lit(52.5) + ((F.col("event_id") % 101) - 50) * 0.002).alias("y"),
        F.col("event_type").alias("station_id"),
    )
    images = syn.spark_images_df(spark, 150)
    samples = sampling.sample_join(images, points, res=8, max_ring=4)
    meta = images.select("image_id", "caption", "datetime")
    return (
        samples.join(F.broadcast(meta), "image_id")
        .join(points.select("point_index", "station_id"), "point_index")
        .select(
            "point_index", "image_id", "station_id", "caption",
            "px_col", "px_row", "value", "valid", "ring_steps",
        )
    )


# queries whose inputs are the fixed synthetic raster tables rather than the
# sf-scaled parquet dirs — scale batteries (scripts/bench_sf1.py) skip them:
# an sf0.1-vs-sf1 ratio for a fixed-size input is a meaningless 1.0 that
# would flatter the battery stats.  KEEP IN SYNC when adding image queries.
SF_INDEPENDENT_QUERIES = {
    "q40_image_enrich", "q41_image_zonal", "q42_image_point_sample",
    "q43_image_dedup_phash", "q44_image_psnr", "q48_image_mosaic",
    "q49_image_latest_sample", "q50_image_zonal_bands",
    "q51_image_chip_stack", "q53_chip_serve", "q54_image_mosaic_average",
    "q58_image_feature_pairs", "q60_image_mosaic_native_grid",
    "q61_chip_augment", "q62_tiff_enrich_zonal", "q63_overview_serve",
    "q64_band_index", "q65_temporal_median", "q66_pixel_series",
    "q67_overview_pixels", "q68_label_masks", "q69_gap_fill",
    "q70_class_stats", "q71_focal_filters", "q72_change_detect",
    "q73_temporal_trend", "q74_terrain", "q75_chip_stats",
    "q76_build_overviews", "q77_spatial_stats", "q78_qa_mask",
    "q79_stretch", "q80_chip_histogram", "q81_train_split",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_filter_orders": q02_filter_orders,
        "q03_semi_join": q03_semi_join,
        "q04_latest_order_per_customer": q04_latest_order_per_customer,
        "q05_asof_event_before_order": q05_asof_event_before_order,
        "q06_extent": q06_extent,
        "q07_mode_event_type": q07_mode_event_type,
        "q08_distinct_nations_per_region": q08_distinct_nations_per_region,
        "q09_topk_parts_by_revenue": q09_topk_parts_by_revenue,
        "q10_running_totals": q10_running_totals,
        "q11_cell_assign": q11_cell_assign,
        "q12_pip_join": q12_pip_join,
        "q13_knn": q13_knn,
        "q14_zonal_value_stats": q14_zonal_value_stats,
        "q15_latest_event_per_cell": q15_latest_event_per_cell,
        "q16_dedup_fingerprint": q16_dedup_fingerprint,
        "q17_token_stats": q17_token_stats,
        "q18_lang_id": q18_lang_id,
        "q19_quality_buckets": q19_quality_buckets,
        "q20_minhash_groups": q20_minhash_groups,
        "q21_embed_knn": q21_embed_knn,
        "q22_embed_near_pairs": q22_embed_near_pairs,
        "q23_windowed_events": q23_windowed_events,
        "q24_sessionize": q24_sessionize,
        "q25_first_valid_mosaic": q25_first_valid_mosaic,
        "q26_chip_stack": q26_chip_stack,
        "q27_asof_forward": q27_asof_forward,
        "q28_interval_join": q28_interval_join,
        "q55_rollup_orders": q55_rollup_orders,
        "q58_image_feature_pairs": q58_image_feature_pairs,
        "q59_bpe_token_stats": q59_bpe_token_stats,
        "q56_group_median": q56_group_median,
        "q57_running_total": q57_running_total,
        "q40_image_enrich": q40_image_enrich,
        "q41_image_zonal": q41_image_zonal,
        "q42_image_point_sample": q42_image_point_sample,
        "q43_image_dedup_phash": q43_image_dedup_phash,
        "q44_image_psnr": q44_image_psnr,
        "q45_simhash_near_dups": q45_simhash_near_dups,
        "q46_minhash_lsh_pairs": q46_minhash_lsh_pairs,
        "q47_lsh_ann": q47_lsh_ann,
        "q48_image_mosaic": q48_image_mosaic,
        "q49_image_latest_sample": q49_image_latest_sample,
        "q50_image_zonal_bands": q50_image_zonal_bands,
        "q51_image_chip_stack": q51_image_chip_stack,
        "q52_ivf_ann": q52_ivf_ann,
        "q53_chip_serve": q53_chip_serve,
        "q54_image_mosaic_average": q54_image_mosaic_average,
        "q60_image_mosaic_native_grid": q60_image_mosaic_native_grid,
        "q61_chip_augment": q61_chip_augment,
        "q62_tiff_enrich_zonal": q62_tiff_enrich_zonal,
        "q63_overview_serve": q63_overview_serve,
        "q67_overview_pixels": q67_overview_pixels,
        "q68_label_masks": q68_label_masks,
        "q69_gap_fill": q69_gap_fill,
        "q70_class_stats": q70_class_stats,
        "q71_focal_filters": q71_focal_filters,
        "q72_change_detect": q72_change_detect,
        "q73_temporal_trend": q73_temporal_trend,
        "q74_terrain": q74_terrain,
        "q75_chip_stats": q75_chip_stats,
        "q76_build_overviews": q76_build_overviews,
        "q77_spatial_stats": q77_spatial_stats,
        "q78_qa_mask": q78_qa_mask,
        "q79_stretch": q79_stretch,
        "q80_chip_histogram": q80_chip_histogram,
        "q81_train_split": q81_train_split,
        "q82_cog_export": q82_cog_export,
        "q83_shard_export": q83_shard_export,
        "q84_image_caption_shards": q84_image_caption_shards,
        "q85_global_band_stats": q85_global_band_stats,
        "q64_band_index": q64_band_index,
        "q65_temporal_median": q65_temporal_median,
        "q66_pixel_series": q66_pixel_series,
    }


def oracle_sql() -> dict[str, str]:
    import datetime as dt

    from oracles import truth_parquet as truth
    from rasteret_spark import crs

    ep = _EVENT_POINTS_SQL
    pb = _PART_BOXES_SQL
    meta_pq = truth("images_meta_pdf", n=120)
    chips = dict(bbox=HOTSPOT_BBOX, size=CHIP_SIZE, xres=CHIP_RES, stride=CHIP_STRIDE)
    return {
        # image queries whose facts are SQL-expressible: the oracle reads
        # GENERATOR-truth metadata (materialized without touching a single
        # header byte), the Spark side recovers the same facts by parsing
        # the encoded blobs — the comparison crosses the encode/parse
        # boundary
        "q40_image_enrich": f"""
            SELECT image_id, fmt, width, height, compression, predictor,
                   epsg, n_tiles
            FROM read_parquet('{meta_pq}')
        """,
        "q43_image_dedup_phash": f"""
            SELECT MIN(image_id) AS image_id, phash
            FROM read_parquet('{meta_pq}')
            GROUP BY phash
        """,
        # pixel-valued oracles: the DuckDB side reads PRE-ENCODE truth
        # (oracles/truth.py — the array the generator drew + numpy
        # reductions, no codec/container/Reader anywhere), the Spark side
        # parses headers, range-reads tiles, decodes and masks distributed —
        # a bit-exact diff across the entire format + execution stack
        "q41_image_zonal": f"""
            SELECT image_id, aoi_id, band, caption,
                   win_col, win_row, win_w, win_h,
                   px_count, valid_count,
                   v_sum, v_mean, v_min, v_max, status
            FROM read_parquet('{truth("zonal_truth_pdf", n_images=120, n_aois=40)}')
        """,
        "q44_image_psnr": f"""
            SELECT image_id, fmt, exact, psnr_db, lossless
            FROM read_parquet('{truth("psnr_truth_pdf", n=120)}')
        """,
        "q42_image_point_sample": f"""
            SELECT point_index, image_id, band, px_col, px_row, in_bounds,
                   value, valid, ring_steps, sample_col, sample_row, status
            FROM read_parquet('{truth("sample_truth_pdf", n_images=120, n_points=200, max_ring=4)}')
        """,
        "q49_image_latest_sample": f"""
            SELECT point_index, image_id, band, px_col, px_row, in_bounds,
                   value, valid, ring_steps, sample_col, sample_row, status
            FROM read_parquet('{truth("sample_truth_pdf", n_images=120, n_points=200, max_ring=4,
                                     latest_only=True)}')
        """,
        "q50_image_zonal_bands": f"""
            SELECT image_id, aoi_id, band, caption,
                   win_col, win_row, win_w, win_h,
                   px_count, valid_count,
                   v_sum, v_mean, v_min, v_max, status
            FROM read_parquet('{truth("zonal_truth_pdf", n_images=120, n_aois=40, bands=(0, 1, 2))}')
        """,
        "q51_image_chip_stack": f"""
            SELECT chip_id, t_index, image_id, band, filled
            FROM read_parquet('{truth("chip_stack_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q53_chip_serve": f"""
            SELECT chip_id, t_index, image_id, band, filled, status
            FROM read_parquet('{truth(
                "chip_stack_truth_pdf", bbox=HOTSPOT_BBOX, size=CHIP_SIZE, xres=CHIP_RES,
                random_n=8, chip_seed=42, t_start=dt.datetime(2023, 2, 1),
                t_end=dt.datetime(2023, 6, 1), t_step=2, bands=(0,), with_status=True)}')
        """,
        "q61_chip_augment": f"""
            SELECT chip_id, t_index, band, aug_op, chip_w, chip_h,
                   v_sum, weighted
            FROM read_parquet('{truth("augment_truth_pdf", **chips, max_images_per_chip=4)}')
        """,
        "q45_simhash_near_dups": f"""
            SELECT id_a, id_b, hamming
            FROM read_parquet('{truth("simhash_truth_pdf", sf_dir=ORACLE_SF_DIR, max_hamming=10)}')
        """,
        "q46_minhash_lsh_pairs": f"""
            SELECT id_a, id_b
            FROM read_parquet('{truth("minhash_truth_pdf", sf_dir=ORACLE_SF_DIR, num_perm=16,
                                     bands=4, jaccard_threshold=0.3)}')
        """,
        "q47_lsh_ann": f"""
            SELECT probe_id, neighbor_id, rank
            FROM read_parquet('{truth("lsh_topk_truth_pdf", sf_dir=ORACLE_SF_DIR, k=3, dim=64,
                                     n_bits=4, n_tables=8)}')
        """,
        "q52_ivf_ann": f"""
            SELECT probe_id, neighbor_id, rank
            FROM read_parquet('{truth("ivf_topk_truth_pdf", sf_dir=ORACLE_SF_DIR, k=3,
                                     n_clusters=16, nprobe=6)}')
        """,
        "q58_image_feature_pairs": f"""
            SELECT id_a, id_b
            FROM read_parquet('{truth("image_feature_pairs_truth_pdf", n_images=120,
                                     threshold=0.999, n_bits=6, n_tables=6)}')
        """,
        "q70_class_stats": f"""
            SELECT chip_id, band, class_id, n_px, n_valid, v_sum, v_mean
            FROM read_parquet('{truth("class_stats_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q71_focal_filters": f"""
            SELECT chip_id, band, fm_filled, fm_wsum, sb_filled, sb_wsum
            FROM read_parquet('{truth("focal_truth_pdf", **chips, bands=(0, 1), radius=1)}')
        """,
        "q72_change_detect": f"""
            SELECT chip_id, band, n_before, n_after,
                   delta_valid, delta_changed, delta_wsum
            FROM read_parquet('{truth(
                "change_detect_truth_pdf", **chips, threshold=CHANGE_THRESHOLD,
                split=dt.datetime.fromisoformat(CHANGE_SPLIT_TS), bands=(0, 1))}')
        """,
        "q73_temporal_trend": f"""
            SELECT chip_id, band, n_t, slope_valid,
                   slope_wsum, intercept_wsum
            FROM read_parquet('{truth("temporal_trend_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q74_terrain": f"""
            SELECT chip_id, band, grad_valid,
                   dzdx_wsum, dzdy_wsum, steep_px
            FROM read_parquet('{truth("terrain_truth_pdf", **chips, steep_tan2=STEEP_TAN2, bands=(0, 1))}')
        """,
        "q75_chip_stats": f"""
            SELECT chip_id, band, n_valid, null_frac, vmin, vmax,
                   at_max_px, q25, q50, q75
            FROM read_parquet('{truth("chip_stats_truth_pdf", **chips,
                                     probs=(0.25, 0.5, 0.75), bands=(0, 1))}')
        """,
        "q76_build_overviews": f"""
            SELECT image_id, status, n_levels_in, n_levels_out, ov_checksum
            FROM read_parquet('{truth("build_overviews_truth_pdf", n_images=96, factors=(2, 4))}')
        """,
        "q77_spatial_stats": f"""
            SELECT chip_id, band, n_valid, w_pairs, morans_i, gearys_c
            FROM read_parquet('{truth("spatial_stats_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q78_qa_mask": f"""
            SELECT chip_id, qa_valid, qa_flagged, kept_px, masked_wsum
            FROM read_parquet('{truth("qa_mask_truth_pdf", **chips, data_band=0, qa_band=1,
                                     bit=QA_BIT)}')
        """,
        "q79_stretch": f"""
            SELECT chip_id, band, cut_lo, cut_hi, clip_lo_px, clip_hi_px,
                   stretch_wsum
            FROM read_parquet('{truth("stretch_truth_pdf", **chips, p_lo=0.02, p_hi=0.98,
                                     bands=(0, 1))}')
        """,
        "q80_chip_histogram": f"""
            SELECT chip_id, band, h0, h1, h2, h3, h4, h5, h6, h7
            FROM read_parquet('{truth("chip_histogram_truth_pdf", **chips, lo=HIST_LO, hi=HIST_HI,
                                     n_bins=HIST_BINS, bands=(0, 1))}')
        """,
        "q81_train_split": f"""
            SELECT chip_id, band, split, n_valid, v_wsum
            FROM read_parquet('{truth("train_split_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q82_cog_export": f"""
            SELECT chip_id, band, width, height, n_overviews, filled, v_sum
            FROM read_parquet('{truth("cog_export_truth_pdf", bbox=HOTSPOT_BBOX, size=COG_SIZE,
                                     xres=COG_RES, stride=COG_STRIDE, bands=(0, 1))}')
        """,
        "q83_shard_export": f"""
            SELECT chip_id, shard_id, n_bands, height, width, filled, v_sum
            FROM read_parquet('{truth("shard_export_truth_pdf", **chips, n_shards=4, bands=(0, 1))}')
        """,
        "q84_image_caption_shards": f"""
            SELECT image_id, shard_id, n_bands, height, width, filled,
                   v_sum, caption
            FROM read_parquet('{truth("image_shard_truth_pdf", n_shards=4, n_images=120)}')
        """,
        "q85_global_band_stats": f"""
            SELECT band, n_chips, n_px, n_valid, mean, std, vmin, vmax
            FROM read_parquet('{truth("global_band_stats_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q69_gap_fill": f"""
            SELECT chip_id, t_index, image_id, band,
                   n_missing, n_filled, weighted
            FROM read_parquet('{truth("gap_fill_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q68_label_masks": f"""
            SELECT chip_id, n_polys, n_labeled, checksum, status
            FROM read_parquet('{truth("label_masks_truth_pdf", **chips, n_aois=40)}')
        """,
        "q67_overview_pixels": f"""
            SELECT image_id, factor, n_levels, level,
                   win_w, win_h, checksum, status
            FROM read_parquet('{truth("overview_truth_pdf", n_images=96)}')
        """,
        "q62_tiff_enrich_zonal": f"""
            SELECT image_id, aoi_id, band, container, byte_order, codec,
                   predictor, px_count, valid_count, v_mean, status
            FROM read_parquet('{truth("tiff_zonal_truth_pdf", n_images=96, n_aois=40)}')
        """,
        "q64_band_index": f"""
            SELECT chip_id, nd_filled, nd_mean, nd_min, nd_max, n_nonneg
            FROM read_parquet('{truth("band_index_truth_pdf", **chips, band_a=1, band_b=0,
                                     lo=0.0)}')
        """,
        "q65_temporal_median": f"""
            SELECT chip_id, band, n_t, n_valid_px, median_mean
            FROM read_parquet('{truth("temporal_median_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q66_pixel_series": f"""
            SELECT point_index, band, n_obs, t_first, t_last, v_mean
            FROM read_parquet('{truth("pixel_series_truth_pdf", n_images=120, n_points=200)}')
        """,
        "q48_image_mosaic": f"""
            SELECT chip_id, band, n_images, n_contributing, filled, v_sum
            FROM read_parquet('{truth("mosaic_truth_pdf", **chips, bands=(0, 1))}')
        """,
        "q54_image_mosaic_average": f"""
            SELECT chip_id, band, n_images, n_contributing, filled, v_sum,
                   status
            FROM read_parquet('{truth("mosaic_truth_pdf", bbox=HOTSPOT_BBOX, size=16, xres=0.004,
                                     stride=16, bands=(0,), method="average")}')
        """,
        "q60_image_mosaic_native_grid": f"""
            SELECT chip_id, band, grid_epsg, n_images, n_contributing,
                   filled, v_sum, capped, status
            FROM read_parquet('{truth(
                "mosaic_truth_pdf", bbox=crs.bbox_from_lonlat(32633, *HOTSPOT_BBOX),
                size=32, xres=100.0, stride=32, grid_epsg=32633)}')
        """,
        "q01_pricing_summary": """
            -- outer CASTs: DuckDB SUM(BIGINT) yields HUGEINT which pandas
            -- renders float64 -> driver value-hash mismatch vs Spark int64
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q02_filter_orders": """
            SELECT o_orderkey, o_custkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND o_orderstatus = 'O' AND o_totalprice > 50000.0
        """,
        "q03_semi_join": """
            SELECT l_returnflag, COUNT(*) AS n FROM lineitem
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
            GROUP BY l_returnflag
        """,
        "q04_latest_order_per_customer": """
            SELECT o_custkey, o_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
                FROM orders) WHERE rn = 1
        """,
        "q05_asof_event_before_order": """
            WITH o AS (SELECT o_orderkey, o_custkey % 150 AS k, o_orderdate AS ots
                       FROM orders WHERE o_orderkey % 100 = 0),
                 e AS (SELECT user_id AS k, event_id,
                              ts - INTERVAL 29 YEAR AS ets_adj FROM events)
            SELECT o_orderkey, event_id FROM (
                SELECT o.o_orderkey, e.event_id,
                       ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                                          ORDER BY e.ets_adj DESC, e.event_id DESC) AS rn
                FROM o LEFT JOIN e ON o.k = e.k AND e.ets_adj <= o.ots) WHERE rn = 1
        """,
        "q06_extent": f"""
            SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
                   COUNT(*) AS n
            FROM ({ep})
        """,
        "q07_mode_event_type": """
            SELECT event_type, n FROM (
                SELECT event_type, COUNT(*) AS n,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type ASC) AS rn
                FROM events GROUP BY event_type) WHERE rn = 1
        """,
        "q08_distinct_nations_per_region": """
            SELECT r_name, COUNT(DISTINCT n_nationkey) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q09_topk_parts_by_revenue": """
            SELECT l_partkey, p_name, rev_cents FROM (
                SELECT l_partkey,
                       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
                FROM lineitem GROUP BY l_partkey) r
            JOIN part ON l_partkey = p_partkey
            ORDER BY rev_cents DESC, l_partkey ASC LIMIT 10
        """,
        "q10_running_totals": """
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER w AS rn,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS cum_cents
            FROM orders WHERE o_custkey < 50
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        """,
        "q11_cell_assign": f"""
            SELECT 7 * 4503599627370496 +
                   CAST(LEAST(GREATEST(FLOOR((x + 180.0) / 360.0 * 128.0), 0), 127) AS BIGINT) * 67108864 +
                   CAST(LEAST(GREATEST(FLOOR((y + 90.0) / 180.0 * 128.0), 0), 127) AS BIGINT) AS cell,
                   COUNT(*) AS n
            FROM ({ep}) GROUP BY 1
        """,
        "q12_pip_join": f"""
            SELECT p_brand, COUNT(*) AS n_hits
            FROM ({ep}) pts JOIN ({pb}) b
              ON pts.x >= b.img_xmin AND pts.x <= b.img_xmax
             AND pts.y >= b.img_ymin AND pts.y <= b.img_ymax
            WHERE pts.event_id % 5 = 0
            GROUP BY p_brand
        """,
        "q13_knn": """
            WITH probes AS (
                SELECT c_custkey, ((c_custkey * 37) % 3600) / 10.0 - 180.0 AS x,
                       ((c_custkey * 91) % 1700) / 10.0 - 85.0 AS y
                FROM customer WHERE c_custkey < 20),
            targets AS (
                SELECT s_suppkey, ((s_suppkey * 53) % 3600) / 10.0 - 180.0 AS tx,
                       ((s_suppkey * 17) % 1700) / 10.0 - 85.0 AS ty
                FROM supplier)
            SELECT c_custkey, s_suppkey, rank FROM (
                SELECT c_custkey, s_suppkey,
                       ROW_NUMBER() OVER (PARTITION BY c_custkey
                           ORDER BY (x - tx) * (x - tx) + (y - ty) * (y - ty) ASC,
                                    s_suppkey ASC) AS rank
                FROM probes CROSS JOIN targets) WHERE rank <= 3
        """,
        "q14_zonal_value_stats": f"""
            SELECT p_partkey, COUNT(*) AS n_points,
                   CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v1000
            FROM ({ep}) pts JOIN ({pb}) b
              ON pts.x >= b.img_xmin AND pts.x <= b.img_xmax
             AND pts.y >= b.img_ymin AND pts.y <= b.img_ymax
            GROUP BY p_partkey
        """,
        "q15_latest_event_per_cell": f"""
            WITH c AS (
                SELECT 5 * 4503599627370496 +
                       CAST(LEAST(GREATEST(FLOOR((x + 180.0) / 360.0 * 32.0), 0), 31) AS BIGINT) * 67108864 +
                       CAST(LEAST(GREATEST(FLOOR((y + 90.0) / 180.0 * 32.0), 0), 31) AS BIGINT) AS cell,
                       event_id, ts
                FROM ({ep}))
            SELECT cell, event_id FROM (
                SELECT cell, event_id,
                       ROW_NUMBER() OVER (PARTITION BY cell
                                          ORDER BY ts DESC, event_id ASC) AS rn
                FROM c) WHERE rn = 1
        """,
        "q16_dedup_fingerprint": """
            SELECT md5(substr(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), 1, 32)) AS fp,
                   MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "q17_token_stats": """
            SELECT lang,
                   CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END) AS BIGINT) AS sum_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars, COUNT(*) AS n_docs
            FROM documents GROUP BY lang
        """,
        "q18_lang_id": """
            SELECT CASE
                WHEN ' ' || lower(text) || ' ' LIKE '% the %'
                  OR ' ' || lower(text) || ' ' LIKE '% and %'
                  OR ' ' || lower(text) || ' ' LIKE '% of %' THEN 'en'
                WHEN ' ' || lower(text) || ' ' LIKE '% der %'
                  OR ' ' || lower(text) || ' ' LIKE '% und %'
                  OR ' ' || lower(text) || ' ' LIKE '% die %' THEN 'de'
                WHEN ' ' || lower(text) || ' ' LIKE '% le %'
                  OR ' ' || lower(text) || ' ' LIKE '% les %'
                  OR ' ' || lower(text) || ' ' LIKE '% des %' THEN 'fr'
                WHEN ' ' || lower(text) || ' ' LIKE '% el %'
                  OR ' ' || lower(text) || ' ' LIKE '% los %'
                  OR ' ' || lower(text) || ' ' LIKE '% las %' THEN 'es'
                ELSE 'und' END AS pred_lang, COUNT(*) AS n
            FROM documents GROUP BY 1
        """,
        "q19_quality_buckets": """
            WITH q AS (
                SELECT ROUND((
                    LEAST(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                  + GREATEST(1.0 - (CASE WHEN length(text) = 0 THEN 0.0
                       ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END) * 4.0, 0.0)
                  + GREATEST(1.0 - (CASE WHEN length(text) = 0 THEN 0.0
                       ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END) * 4.0, 0.0)
                  + (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END) = 0 THEN 0.5
                          WHEN CAST(length(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE)
                               / (CASE WHEN length(trim(text)) = 0 THEN 0
                                  ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END)
                               BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
                ) / 4.0, 6) AS q FROM documents)
            SELECT CAST(FLOOR(q * 10) AS BIGINT) AS bucket, COUNT(*) AS n FROM q GROUP BY 1
        """,
        "q20_minhash_groups": """
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
                FROM documents),
            mh AS (SELECT doc_id, MIN(md5(tok)) AS minhash FROM toks GROUP BY doc_id)
            SELECT minhash, MIN(doc_id) AS survivor_id, COUNT(*) AS n_docs
            FROM mh GROUP BY minhash
        """,
        "q21_embed_knn": """
            WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
                       FROM embeddings WHERE vec_id < 10)
            SELECT probe_id, neighbor_id, rank FROM (
                SELECT p.probe_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY p.probe_id
                           ORDER BY list_dot_product(e.embedding, p.pe) /
                                    (sqrt(list_dot_product(e.embedding, e.embedding)) *
                                     sqrt(list_dot_product(p.pe, p.pe))) DESC,
                                    e.vec_id ASC) AS rank
                FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.probe_id)
            WHERE rank <= 3
        """,
        "q22_embed_near_pairs": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.embedding, b.embedding) /
                  (sqrt(list_dot_product(a.embedding, a.embedding)) *
                   sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.4
        """,
        "q23_windowed_events": """
            SELECT date_trunc('hour', ts) AS hour_ts, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v1000
            FROM events GROUP BY 1, 2
        """,
        "q25_first_valid_mosaic": """
            SELECT user_id, v1000, winner_event_id FROM (
                SELECT user_id,
                       CAST(ROUND(value * 1000) AS BIGINT) AS v1000,
                       event_id AS winner_event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id ASC) AS rn
                FROM events WHERE value > 250.0) WHERE rn = 1
        """,
        "q26_chip_stack": """
            WITH s AS (
                SELECT user_id,
                       list(CAST(ROUND(value * 1000) AS BIGINT)
                            ORDER BY ts ASC, event_id ASC,
                                     CAST(ROUND(value * 1000) AS BIGINT) ASC) AS series
                FROM events GROUP BY user_id)
            SELECT user_id, series[1] AS first_v, series[-1] AS last_v,
                   len(series) AS n_obs
            FROM s
        """,
        "q27_asof_forward": """
            WITH o AS (SELECT o_orderkey, o_custkey % 150 AS k, o_orderdate AS ots
                       FROM orders WHERE o_orderkey % 100 = 0),
                 e AS (SELECT user_id AS k, event_id,
                              ts - INTERVAL 26 YEAR AS ets_adj FROM events)
            SELECT o_orderkey, CAST(event_id AS BIGINT) AS event_id FROM (
                SELECT o.o_orderkey, e.event_id,
                       ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                                          ORDER BY e.ets_adj ASC, e.event_id ASC) AS rn
                FROM o LEFT JOIN e ON o.k = e.k AND e.ets_adj >= o.ots)
            WHERE rn = 1 AND event_id IS NOT NULL
        """,
        "q28_interval_join": """
            WITH o AS (SELECT o_orderkey, o_custkey % 150 AS k, o_orderdate AS ots
                       FROM orders WHERE o_orderkey % 50 = 0),
                 e AS (SELECT user_id AS ek, event_id AS eid,
                              ts - INTERVAL 29 YEAR AS ets_adj FROM events)
            SELECT o_orderkey, COUNT(eid) AS n_events
            FROM o LEFT JOIN e
              ON o.k = e.ek AND e.ets_adj >= o.ots
             AND e.ets_adj < o.ots + INTERVAL 7 DAY
            GROUP BY o_orderkey
        """,
        "q24_sessionize": """
            WITH g AS (
                SELECT user_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
        """,
        "q55_rollup_orders": """
            WITH r AS (
                SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr0,
                       o_orderstatus AS st0,
                       CAST(COUNT(*) AS BIGINT) AS n_orders,
                       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                           AS sum_cents
                FROM orders
                GROUP BY ROLLUP(yr0, st0))
            SELECT CAST(COALESCE(yr0, -1) AS INT) AS yr,
                   COALESCE(st0, 'ALL') AS o_orderstatus,
                   n_orders, sum_cents
            FROM r
        """,
        "q56_group_median": """
            WITH v AS (SELECT event_type,
                              CAST(ROUND(value * 1000) AS BIGINT) AS v1000
                       FROM events),
                 r AS (SELECT event_type, v1000,
                              ROW_NUMBER() OVER (PARTITION BY event_type
                                                 ORDER BY v1000 ASC) AS rn,
                              COUNT(*) OVER (PARTITION BY event_type) AS n
                       FROM v)
            SELECT event_type, v1000 AS median_v1000
            FROM r WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)
        """,
        # the whitespace class is explicit (same bytes as word_tokens):
        # Java \\s includes \\x0B, RE2's does not — \\s here would be a
        # latent engine/oracle divergence on vertical-tab input
        "q59_bpe_token_stats": """
            SELECT source,
                   CAST(SUM(len(regexp_extract_all(
                       text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'
                   ))) AS BIGINT) AS sum_pieces,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents
            GROUP BY source
        """,
        "q57_running_total": """
            SELECT o_orderkey, o_custkey,
                   CAST(ROW_NUMBER() OVER w AS INT) AS rn,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate ASC, o_orderkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS run_cents
            FROM orders
            WHERE o_orderkey % 20 = 0
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC)
        """,
    }
