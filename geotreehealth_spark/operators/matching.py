"""Point↔polygon and feature-space matching operators (SURVEY.md W1/J7/J8/J11).

Reference semantics:
- W1 containing-else-nearest: per seed point, the LARGEST polygon containing
  it; if none contains it, the polygon whose centroid is nearest
  (get_polygons.py:100-111 `max(containing_polygons, key=area)` and
  get_polygons.py:766-777 centroid-distance fallback).
- J11 feature-space NN match: equal-Tag join, euclidean distance in feature
  space, argmin per left row, kept only under a threshold
  (delineation_utils.py:372-398 align_data, threshold=0.1 default).
- J8 same-tag pair distances: all cross-table pairs sharing a tag with their
  point distance (delineation_utils.py:62-90 calculate_distances, duplicated
  at get_unique_polygons.py:9-37).
- J7 seeded random-k sample: k pseudo-random candidates per probe from the
  full candidate set (get_polygons.py:331-332 np.random.choice over all
  points). The engine replaces RNG state with a deterministic integer hash
  order so the sample is reproducible across engines and retries.

All selection logic is min-struct aggregation or rank windows over slim
columns — map-side combinable, no Python in the hot path; the one driver
loop is random_k_sample's threshold escalation.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotreehealth_spark.operators.knn import knn_join
from geotreehealth_spark.operators.materialize import cached, scope
from geotreehealth_spark.operators.pip_join import distance_expr, pip_join


def containing_else_nearest(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    poly_id: str,
    area_col: str,
    center: tuple[str, str] = ("cx", "cy"),
    cell_size: float = 50.0,
    point_xy: tuple[str, str] = ("x", "y"),
    poly_wkb: str | None = "geometry_wkb",
    poly_bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    extent: float = 1000.0,
) -> DataFrame:
    """W1: (point_id, poly_id, method) — method 'contained'|'nearest'.

    Physical plan: the containing arm is the PIP filter-refine join followed
    by a map-side max(struct(area, ...)) — shuffle O(points), not O(pairs);
    the fallback arm is the exact cell-pruned kNN (k=1) on the RESIDUE only
    (points with no containing polygon), which is tiny for real crown data.
    """
    px, py = point_xy
    # r6: points feed the PIP arm AND the residue anti-join; polygons feed
    # the PIP arm AND the kNN fallback's candidate side; `best` feeds the
    # matched arm AND the residue anti-join. All three lineages were
    # recomputed per consumer (crowns' groupBy derivation twice per call) —
    # persist each once; the session-level cache sweep releases them.
    points, polygons = cached(points), cached(polygons)
    contained = pip_join(
        points.select(point_id, px, py), polygons, cell_size, px, py, poly_wkb, poly_bounds
    )
    # greedy pick: area desc, poly_id asc — encoded as max(struct(area, neg-id))
    # needs an orderable inverse for the id; use min(struct(-area, id)) instead
    best = contained.groupBy(point_id).agg(
        F.min(F.struct((-F.col(area_col)).alias("na"), F.col(poly_id).alias("pid"))).alias("__b")
    ).select(
        point_id,
        F.col("__b.pid").alias(poly_id),
        (-F.col("__b.na")).alias(area_col),
    ).persist()
    matched = best.select(point_id, poly_id).withColumn("method", F.lit("contained"))

    # no broadcast hint: matched ids are probe-proportional (≈ every matched
    # point) — a forced broadcast is a driver OOM at 100-TB probe cardinality;
    # AQE broadcasts when the set is actually small (VERDICT.md r3)
    residue = points.join(best.select(point_id), point_id, "left_anti")
    nearest = knn_join(
        residue.select(point_id, px, py),
        polygons.select(poly_id, *center),
        k=1,
        left_id=point_id,
        right_id=poly_id,
        left_xy=point_xy,
        right_xy=center,
        extent=extent,
    ).select(point_id, poly_id).withColumn("method", F.lit("nearest"))
    return matched.unionByName(nearest)


def feature_nn_match(
    left: DataFrame,
    right: DataFrame,
    tag_col: str,
    left_id: str,
    right_id: str,
    feature_pairs: list[tuple[str, str]],
    threshold: float = 0.1,
) -> DataFrame:
    """J11: per left row, the equal-tag right row nearest in feature space,
    kept only if the euclidean distance is strictly below `threshold`
    (align_data, delineation_utils.py:381-396).

    Output: (left_id, right_id, fdist). The equi-join on tag keeps the pair
    stream linear in the tag-group sizes; argmin is a min(struct) aggregation
    (map-side combinable). The distance is an explicit left-associated
    expression so the SQL oracle is bit-identical.
    """
    terms: list[Column] = []
    r = right
    for lc, rc in feature_pairs:
        r = r.withColumnRenamed(rc, f"__r_{rc}") if rc == lc else r
    rcols = {rc: (f"__r_{rc}" if rc == lc else rc) for lc, rc in feature_pairs}
    j = left.select(tag_col, left_id, *[lc for lc, _ in feature_pairs]).join(
        r.select(tag_col, right_id, *[rcols[rc] for _, rc in feature_pairs]), tag_col
    )
    for lc, rc in feature_pairs:
        d = F.col(lc) - F.col(rcols[rc])
        terms.append(d * d)
    fdist = F.sqrt(reduce(lambda a, b: a + b, terms))
    best = (
        j.withColumn("fdist", fdist)
        .groupBy(left_id)
        .agg(F.min(F.struct(F.col("fdist"), F.col(right_id))).alias("__b"))
        .select(
            left_id,
            F.col(f"__b.{right_id}").alias(right_id),
            F.col("__b.fdist").alias("fdist"),
        )
    )
    return best.where(F.col("fdist") < threshold)


def same_tag_pair_distances(
    left: DataFrame,
    right: DataFrame,
    tag_col: str,
    left_id: str,
    right_id: str,
    left_xy: tuple[str, str] = ("x", "y"),
    right_xy: tuple[str, str] = ("x", "y"),
    dedup_self: bool = False,
) -> DataFrame:
    """J8: (tag, left_id, right_id, distance) for every equal-tag pair.

    dedup_self=True treats left/right as the SAME table and emits each
    unordered pair once (left_id < right_id). Plain equi-join on the tag:
    output is Σ |tag group|² — the reference's double iterrows loop
    (delineation_utils.py:66-82) collapsed into one shuffle.
    """
    lx, ly = left_xy
    rx, ry = right_xy
    a = left.select(
        tag_col, F.col(left_id).alias("__lid"), F.col(lx).alias("__lx"), F.col(ly).alias("__ly")
    )
    b = right.select(
        tag_col, F.col(right_id).alias("__rid"), F.col(rx).alias("__rx"), F.col(ry).alias("__ry")
    )
    j = a.join(b, tag_col)
    if dedup_self:
        j = j.where(F.col("__lid") < F.col("__rid"))
    out_l, out_r = (left_id, right_id) if left_id != right_id else (
        f"{left_id}_a", f"{right_id}_b"
    )
    return j.select(
        tag_col,
        F.col("__lid").alias(out_l),
        F.col("__rid").alias(out_r),
        distance_expr(F.col("__lx"), F.col("__ly"), F.col("__rx"), F.col("__ry")).alias(
            "distance"
        ),
    )


RANDOM_K_HASH_P = 1000003
# |L|·|R| up to which the direct window rank over the enumerated product
# runs instead of the hash-threshold rounds
DIRECT_MAX_PAIRS = 2_000_000
# the threshold keeps ~OVERSAMPLE·k candidates per probe; a short probe
# escalates the threshold by this factor (at least 2)
OVERSAMPLE = 8


def random_k_sample(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    right_id: str,
    left_key: str,
    right_key: str,
    self_key: str | None = None,
) -> DataFrame:
    """J7: k deterministic pseudo-random candidates per probe.

    Mirrors np.random.choice over the full candidate set
    (get_polygons.py:331-332) with RNG replaced by a fixed integer hash
    h = (a·lk + b·rk) mod p, so the draw is the k smallest h per probe
    (ties by right_id) — reproducible and SQL-expressible.
    self_key: optional left column equal to right_key for self-exclusion.

    Plans (identical output, cost-switched like nms/knn residues):
    - |L|·|R| <= DIRECT_MAX_PAIRS: window rank over the enumerated product.
    - else: candidates with h < T survive into the shuffle + per-probe sort,
      T sized so ~OVERSAMPLE·k survive per probe (h is near-uniform mod p).
      Probes with < k survivors (hash clumping) escalate T x OVERSAMPLE and
      re-scan only those probes; the last escalation is T = p (full
      product), so the result is EXACTLY the global top-k draw regardless of
      distribution — same completeness-proof-or-escalate shape as the kNN
      rings. r6 (VERDICT r5 item 5): the h < T scan is no longer an
      enumerated |L|·|R| product — the affine hash decomposes into
      per-probe admissible rv-intervals, the right side is bucketed by
      rv = (40503·rk) mod p once, and each round is an equi-join on the
      bucket id touching only ~OVERSAMPLE·k right rows per probe, with the
      original h < T predicate re-applied after the join (the candidate set
      is provably the enumerated plan's). Scan, shuffle and sort volumes
      are all O(OVERSAMPLE·k·|L|) per round.
    Both plans are eager: the result reads checkpoint blocks only, so the
    input caches are released on return.
    """
    lk = F.col(left_key)
    rk = F.col(right_key)
    h = F.pmod(lk * F.lit(48271) + rk * F.lit(40503), F.lit(RANDOM_K_HASH_P))

    def enumerate_pairs(probes: DataFrame) -> DataFrame:
        pairs = probes.crossJoin(right)
        if self_key is not None:
            pairs = pairs.where(F.col(self_key) != rk)
        # NULL-keyed rows have no draw hash and can never be drawn — filtered
        # in BOTH plans (without this the direct window ranked NULL h FIRST
        # per Spark's NULLS FIRST asc ordering, while the threshold plan's
        # `h < T` predicate dropped them: results flipped with input size)
        return pairs.where(h.isNotNull())

    def top_k(cands: DataFrame, hash_col: Column) -> DataFrame:
        w = Window.partitionBy(left_id).orderBy(hash_col.asc(), F.col(right_id).asc())
        return (
            cands.withColumn("draw_rank", F.row_number().over(w))
            .where(F.col("draw_rank") <= k)
            .select(left_id, right_id, "draw_rank")
        )

    with scope() as m:
        # r6 (ADVICE r5): persist BEFORE counting — the counts then
        # materialize the same caches every later branch reads, instead of
        # computing the upstream lineage once for the cost-switch counts and
        # again for the plans
        left_mat, right = m.cache(left), m.cache(right)  # enumerate_pairs reads `right`
        n_left = left_mat.count()
        n_right = right.count()
        if n_left * n_right <= DIRECT_MAX_PAIRS:
            return m.checkpoint(top_k(enumerate_pairs(left_mat), h))
        frac = min(1.0, (OVERSAMPLE * k) / max(n_right, 1))
        threshold = max(1, int(math.ceil(RANDOM_K_HASH_P * frac)))

        # Bucketed admissible-window join (r6, VERDICT r5 item 5): the affine
        # draw hash decomposes as h = (a + rv) mod p with a = (48271·lk) mod
        # p and rv = (40503·rk) mod p (valid while 48271·lk / 40503·rk stay
        # inside int64, i.e. |key| < ~1.9e14 — beyond that the ORIGINAL h
        # expression already wraps and its documented affine semantics are
        # void anyway). h < T therefore admits, per probe, at most TWO
        # rv-intervals: [0, T−a) and [p−a, p−a+T) ∩ [0, p). The right side
        # is bucketed by rv ONCE; each probe explodes to only the
        # ~T·n_buckets/p + 2 buckets its intervals touch, and the join is a
        # plain equi-join on the bucket id — the enumerated volume drops
        # from |L|·|R| to ~|L|·OVERSAMPLE·k rows.
        # SAFETY: bucket coverage only needs to be a SUPERSET of the
        # admissible rows — the loop re-applies the ORIGINAL `h < T`
        # predicate after the join, so the candidate set (and the draw) is
        # provably identical to the enumerated plan's. The final T = p round
        # keeps the crossJoin (every bucket would be admissible).
        P = RANDOM_K_HASH_P
        n_buckets = int(min(max(16, (2 * n_right) // max(k, 1)), 1_048_576))
        bucket_w = -(-P // n_buckets)  # ceil(P / n_buckets)
        right_b = right.withColumn(
            "__rb",
            F.floor(F.pmod(rk * F.lit(40503), F.lit(P)) / F.lit(bucket_w)).cast("long"),
        )

        def bucketed_pairs(probes: DataFrame, t: int) -> DataFrame:
            a = F.pmod(lk * F.lit(48271), F.lit(P))
            hi1 = F.lit(t) - a  # exclusive end of interval 1 (start 0); may be <= 0
            lo2 = F.lit(P) - a  # interval 2 start; empty when a == 0
            hi2 = F.least(F.lit(P), lo2 + F.lit(t))
            empty = F.array().cast("array<bigint>")
            seq1 = F.when(
                hi1 > 0,
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((hi1 - 1) / F.lit(bucket_w)).cast("long"),
                ),
            )
            seq2 = F.when(
                hi2 > lo2,
                F.sequence(
                    F.floor(lo2 / F.lit(bucket_w)).cast("long"),
                    F.floor((hi2 - 1) / F.lit(bucket_w)).cast("long"),
                ),
            )
            buckets = F.array_distinct(
                F.flatten(F.array(F.coalesce(seq1, empty), F.coalesce(seq2, empty)))
            )
            # NULL-keyed probes yield a NULL bucket array → explode drops
            # them, matching enumerate_pairs' h-notnull filter; NULL right
            # keys get a NULL __rb and never join
            pairs = probes.withColumn("__rb", F.explode(buckets)).join(right_b, "__rb")
            if self_key is not None:
                pairs = pairs.where(F.col(self_key) != rk)
            return pairs.where(h.isNotNull())

        # the per-round `cand` checkpoint blocks ARE the result's storage
        remaining = left_mat
        parts: list[DataFrame] = []
        while True:
            final = threshold >= RANDOM_K_HASH_P
            src = enumerate_pairs(remaining) if final else bucketed_pairs(remaining, threshold)
            cand = m.checkpoint(
                src.withColumn("__h", h)
                .where(F.col("__h") < F.lit(threshold))
                .select(left_id, right_id, "__h")
            )
            # >= k survivors under T ⇒ the k-th smallest (h, right_id) is
            # under T too ⇒ this probe's global top-k is fully inside `cand`
            satisfied = (
                cand.groupBy(left_id).count().where(F.col("count") >= k)
                .select(left_id)
            )
            done = cand if final else cand.join(satisfied, left_id, "left_semi")
            parts.append(top_k(done, F.col("__h")))
            if final:
                break
            remaining = remaining.join(satisfied, left_id, "left_anti")
            if remaining.isEmpty():
                break
            # escalation factor floored at 2: with OVERSAMPLE=1 a literal
            # `*= OVERSAMPLE` never grows T and the loop spins forever
            # re-scanning the same shortfall probes at the same threshold
            threshold *= max(2, OVERSAMPLE)
        return reduce(lambda a, b: a.unionByName(b), parts)
