"""Within-distance spatial pair join: all point pairs with great-circle
distance <= R km — the J-family operator between the reference's
point-to-center radius predicate (P3) and its kNN interpolation join
(J5, operators/interpolate.py). Reuses J5's verified banding machinery:

* latitude bands of pitch >= R (so a pair spans <= 1 band boundary);
* per-band longitude pitch from the exact haversine bound
  dlng <= 2*asin(sin(d/2R)/cos(e)) (interpolate._lng_pitch_deg — the
  r2 high-latitude bug's root fix, reused not re-derived);
* antimeridian wrap copies on the probe side with the 120-degree
  degeneration rule that makes double-matching impossible;
* probe side explodes into its 3x3 bucket neighborhood, anchor side is
  bucketed once — the join is a pure equi-join on (band, lng-bucket).

Every candidate is verified with the exact haversine; each qualifying
pair surfaces exactly once (id_a < id_b kills the mirror match, and
the 9 offsets land on 9 DISTINCT bucket keys, so no same-orientation
duplicate exists). The DuckDB oracle replays the UNPRUNED quadratic
self-join with the identical formula — a banding bound that drops one
true pair flips the value hash (the same gate discipline as
idw_knn_highlat).

Scale: candidates are bounded by per-bucket density, not corpus size;
the only shuffle is the bucket equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osc_geo_h3grid_srv_spark.operators.interpolate import (
    _EARTH_R_KM, _lng_pitch_deg)


def _banded_candidates(anchors: DataFrame, probes: DataFrame,
                       radius_km: float,
                       spread_probes: bool = False) -> DataFrame:
    """Candidate pairs (id_a/lat_a/lng_a from `anchors` x id_b/lat_b/
    lng_b from `probes`) whose great-circle distance CAN be
    <= radius_km, joined purely on (band, lng-bucket) equi-keys with
    exact dist_km attached (unfiltered — callers apply their own
    radius/top-k predicate). The anchor side is bucketed once; the
    probe side explodes into its 3x3 bucket neighborhood plus the
    antimeridian wrap copy. anchors must carry (id_a, lat_a, lng_a),
    probes (id_b, lat_b, lng_b)."""
    if radius_km <= 0:
        raise ValueError(f"radius_km {radius_km} must be > 0")
    pitch = radius_km / 111.32 * 1.2
    a = anchors
    a = a.withColumn("by", F.floor(F.col("lat_a") / F.lit(pitch)))
    a = a.withColumn(
        "bx", F.floor(F.col("lng_a")
                      / _lng_pitch_deg(F.col("by"), pitch, radius_km)))

    b = probes
    # antimeridian wrap copy (same trigger rule as interpolate.py)
    by0 = F.floor(F.col("lat_b") / F.lit(pitch))
    m = F.greatest(*[
        F.when(p < F.lit(360.0), p).otherwise(F.lit(0.0))
        for p in (_lng_pitch_deg(by0 + F.lit(d), pitch, radius_km)
                  for d in (-1, 0, 1))])
    shift = (F.when((m > F.lit(0.0))
                    & (F.col("lng_b") >= F.lit(180.0) - m),
                    F.lit(-360.0))
             .when((m > F.lit(0.0))
                   & (F.col("lng_b") <= F.lit(-180.0) + m),
                   F.lit(360.0)))
    b = b.withColumn("__sh", F.explode(F.array_compact(
        F.array(F.lit(0.0), shift)))) \
        .withColumn("lng_b", F.col("lng_b") + F.col("__sh"))
    b = b.withColumn("off", F.explode(F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)])))
    b = b.withColumn("by", F.floor(F.col("lat_b") / F.lit(pitch))
                     + F.col("off.dy"))
    p_pitch = _lng_pitch_deg(F.col("by"), pitch, radius_km)
    b = b.filter((F.col("__sh") == 0) | (p_pitch < F.lit(360.0)))
    b = b.withColumn("bx", F.floor(F.col("lng_b") / p_pitch)
                     + F.col("off.dx")).drop("off", "__sh")
    # parallelism guard, OPT-IN (spread_probes): a small single-file
    # parquet probe side plans as ONE input partition, and when AQE
    # broadcasts the anchor side the whole candidate haversine runs
    # serial. For LARGE-radius callers (candidate volume >> inputs,
    # e.g. Ripley's K at its top threshold — measured 17.3 s -> 11.0 s
    # at sf0.1) an explicit band-keyed repartition (AQE keeps
    # user-specified counts) spreads the trig; for small-radius top-k
    # joins the extra exchange costs more than it saves (measured
    # nearest_join 2.7 s -> 4.9 s), so callers choose.
    if spread_probes:
        n_parts = b.sparkSession.sparkContext.defaultParallelism * 2
        b = b.repartition(n_parts, "by", "bx")
    j = a.join(b, ["by", "bx"])
    la1 = F.radians(F.col("lat_a"))
    la2 = F.radians(F.col("lat_b"))
    dla = la2 - la1
    dlo = F.radians(F.col("lng_b")) - F.radians(F.col("lng_a"))
    h = (F.sin(dla / 2) ** 2
         + F.cos(la1) * F.cos(la2) * F.sin(dlo / 2) ** 2)
    return j.withColumn(
        "dist_km", F.lit(2 * _EARTH_R_KM) * F.asin(F.sqrt(h)))


def nearest_join(probes: DataFrame, anchors: DataFrame,
                 max_km: float, k: int = 1,
                 probe_id: str = "id", anchor_id: str = "id",
                 lat_col: str = "lat",
                 lng_col: str = "lng") -> DataFrame:
    """k-nearest-neighbor JOIN: for each probe point, its k nearest
    anchor points within max_km — (probe_id, rank, anchor_id, dist_km
    round 4), rank 1..k by (distance, anchor_id); probes with no
    anchor in range emit nothing (inner semantics, the caller can
    left-join back). The J-family gap between the within-distance
    PAIR join above and J5's cell-centroid interpolation: same
    banding bound, but per-probe top-k instead of a threshold.

    Scale: candidates are bounded by per-bucket anchor density x 9,
    never |probes| x |anchors|; the top-k window partitions on the
    probe id, so the second exchange is probe-keyed and skew-free."""
    if k < 1:
        raise ValueError(f"k {k} must be >= 1")
    a = anchors.select(F.col(anchor_id).alias("id_a"),
                       F.col(lat_col).alias("lat_a"),
                       F.col(lng_col).alias("lng_a"))
    b = probes.select(F.col(probe_id).alias("id_b"),
                      F.col(lat_col).alias("lat_b"),
                      F.col(lng_col).alias("lng_b"))
    cand = _banded_candidates(a, b, max_km) \
        .filter(F.col("dist_km") <= F.lit(float(max_km)))
    w = Window.partitionBy("id_b").orderBy("dist_km", "id_a")
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.lit(int(k)))
            .select(F.col("id_b").alias("probe_id"),
                    F.col("rank").cast("int").alias("rank"),
                    F.col("id_a").alias("anchor_id"),
                    F.round("dist_km", 4).alias("dist_km")))


def within_distance_pairs(points: DataFrame, radius_km: float,
                          id_col: str = "id", lat_col: str = "lat",
                          lng_col: str = "lng",
                          spread_probes: bool = False) -> DataFrame:
    """-> (id_a, id_b, dist_km round 4), id_a < id_b, haversine
    distance <= radius_km. spread_probes: see _banded_candidates —
    set it when radius_km is large relative to point spacing
    (candidate volume >> input size)."""
    a = points.select(F.col(id_col).alias("id_a"),
                      F.col(lat_col).alias("lat_a"),
                      F.col(lng_col).alias("lng_a"))
    b = points.select(F.col(id_col).alias("id_b"),
                      F.col(lat_col).alias("lat_b"),
                      F.col(lng_col).alias("lng_b"))
    return (_banded_candidates(a, b, radius_km,
                               spread_probes=spread_probes)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.col("dist_km") <= F.lit(float(radius_km)))
            .select("id_a", "id_b",
                    F.round("dist_km", 4).alias("dist_km")))
