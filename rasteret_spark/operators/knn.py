"""kNN via k-ring cell expansion — with a brute-force oracle variant.

Distributed generalization of rasteret's bounded ring search
(`src/rasteret/core/raster_accessor.py:759-883`): probe points join targets
through expanding Chebyshev rings of grid cells, so each probe only ever
meets targets in nearby cells instead of the whole table.  The expansion is
driver-iterated (bounded doubling) but every round is one JVM-native
cell equi-join — no Python in the hot path; candidate scoring + top-k is a
window over (probe, distance).

Exactness rule: a probe's k-th neighbour found within ring radius ``k_ring``
is certified once its distance is <= (k_ring) * cell_size - eps … we use the
conservative form: candidates are accepted when the k-th best distance is
within the ring's guaranteed-coverage radius ``k_ring * cell_h`` (cell height
is the smaller cell extent); unresolved probes re-run with a doubled ring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.operators.spatial_join import _axis_cell, _n, _q, cell_of_point_col, pack_cell


def _ring_cells(df: DataFrame, res: int, k: int, inner: int = 0) -> DataFrame:
    """Explode each probe (``x``, ``y``) into the cells with Chebyshev
    distance in ``[inner, k]`` — native sequence/explode (lon wrap, lat
    clamp), no UDF.

    ``inner > 0`` yields only the NEW shell between two expansion rounds, so
    round r never re-scans the (2k+1)^2 disk already examined by round r-1.
    Caller must keep 2k+1 <= n to avoid wrap-around duplicate cells."""
    n = _n(res)
    keep = [_q(c) for c in df.columns]
    span = f"explode(sequence({-k}, {k}))"
    shell = f"greatest(abs(_dx), abs(_dy)) >= {inner} AND " if inner > 0 else ""
    return (
        df.selectExpr(
            *keep, f"{_axis_cell('x', 180.0, res)} AS _cix",
            f"{_axis_cell('y', 90.0, res)} AS _ciy", f"{span} AS _dx",
        )
        .selectExpr(*keep, "_cix", "_ciy", "_dx", f"{span} AS _dy")
        .filter(f"{shell}_ciy + _dy >= 0 AND _ciy + _dy < {n}")
        .selectExpr(*keep, f"{pack_cell(res, f'pmod(_cix + _dx, {n})', '_ciy + _dy')} AS cell")
    )


def _dist2() -> F.Column:
    dx = F.col("x") - F.col("tx")
    dy = F.col("y") - F.col("ty")
    return dx * dx + dy * dy


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """The ``k`` nearest targets per probe (ties by ascending target id)."""
    w = Window.partitionBy("point_index").orderBy(F.col("dist2").asc(), F.col("target_id").asc())
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


OUT_COLS = ("point_index", "target_id", "dist2", "rank")


def knn_bruteforce(probes: DataFrame, targets: DataFrame, k: int) -> DataFrame:
    """Exact kNN by cross join + window top-k (baseline / oracle path).
    Probes carry ``point_index, x, y``, targets ``target_id, tx, ty``.
    Output: point_index, target_id, dist2, rank."""
    j = probes.select("point_index", "x", "y").crossJoin(targets.select("target_id", "tx", "ty"))
    return _top_k(j.withColumn("dist2", _dist2()), k).select(*OUT_COLS)


def knn_cells(
    probes: DataFrame,
    targets: DataFrame,
    k: int,
    res: int = 6,
    stats: dict | None = None,
) -> DataFrame:
    """Exact kNN via iterative k-ring expansion at cell resolution ``res``.
    Probes carry ``point_index, x, y``, targets ``target_id, tx, ty``.

    Scale discipline (each round is bounded, nothing re-executes):

      * round 1 joins the ring-1 disk; every later round joins ONLY the
        new ring shell (``_ring_cells(inner=prev+1)``) — the already-scanned
        disk is never re-joined;
      * the per-round frontier (pending probes) and their accumulated top-k
        candidates are ``localCheckpoint``-ed, truncating lineage so the
        per-round driver decision (a count) and the final action never
        re-execute earlier rounds' joins;
      * the expansion is capped at ``n/4`` rings (wrap-safe: 2k+1 <= n
        always holds) — stragglers past the cap fall back to the
        brute-force join, which for a handful of far-from-everything probes
        is the cheaper plan anyway.

    A probe is certified when it has k candidates and its k-th distance fits
    inside the ring's guaranteed-coverage radius ``ring * cell_h``.
    ``stats`` (optional dict) receives {"rounds": int, "bruteforced": int}.
    """
    n = _n(res)
    cell_h = 180.0 / n  # guaranteed coverage radius unit (smaller extent)
    ring_cap = max(1, n // 4)

    t_cells = targets.select("target_id", "tx", "ty").withColumn(
        "cell", F.expr(cell_of_point_col("tx", "ty", res))
    )
    t_cells = t_cells.persist()

    pending = probes.select("point_index", "x", "y").localCheckpoint(eager=False)
    pending_topk = None  # accumulated candidates of still-pending probes
    done_parts: list[DataFrame] = []
    ring, prev_ring, rounds, n_brute = 1, 0, 0, 0
    while True:
        rounds += 1
        shell = _ring_cells(pending, res, ring, inner=(prev_ring + 1 if prev_ring else 0))
        new_cand = shell.join(t_cells, "cell").drop("cell").withColumn("dist2", _dist2())
        cand = new_cand if pending_topk is None else pending_topk.unionByName(new_cand)
        topk = _top_k(cand, k).localCheckpoint()  # eager: one materialization per round
        guaranteed = (ring * cell_h) ** 2
        agg = topk.groupBy("point_index").agg(
            F.count("*").alias("_cnt"), F.max("dist2").alias("_maxd")
        )
        done_ids = agg.filter((F.col("_cnt") >= k) & (F.col("_maxd") <= guaranteed)).select(
            "point_index"
        )
        # both splits read the checkpointed topk — no join re-execution
        done_parts.append(
            topk.join(F.broadcast(done_ids), "point_index", "left_semi").select(*OUT_COLS)
        )
        pending = pending.join(F.broadcast(done_ids), "point_index", "left_anti").localCheckpoint()
        if pending.isEmpty():
            break
        pending_topk = topk.join(F.broadcast(done_ids), "point_index", "left_anti").drop("rank")
        prev_ring, ring = ring, ring * 2
        if ring > ring_cap:
            n_brute = 1
            done_parts.append(knn_bruteforce(pending, targets, k))
            break
    t_cells.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
        stats["bruteforced"] = n_brute
    results = done_parts[0]
    for part in done_parts[1:]:
        results = results.unionByName(part)
    return results.select(*OUT_COLS)
