"""Driver contract: entry() smoke, queries() + oracle_sql() correctness gate.

Each queries() entry exercises one operator family from SURVEY.md §2 through
the real engine code (geotreehealth_spark.operators.*); the oracle SQL rebuilds
the same result in DuckDB from the same parquet tables, using the shared-
dialect derived views in geotreehealth_spark.synth (bit-identical arithmetic in
both engines — see synth.py docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotreehealth_spark import synth
from geotreehealth_spark.operators import aggregates, dedup, knn, overlap, pip_join, rebalance, tiling

V = synth.ORACLE_VIEWS
PLOT_BOUNDS = ("pxmin", "pymin", "pxmax", "pymax")
DIST_SQL = "SQRT((s.x - c.cx) * (s.x - c.cx) + (s.y - c.cy) * (s.y - c.cy))"


def _recoded_stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = synth.stems(spark, sf_dir)
    return s.withColumn("status_r", dedup.recode_status(F.col("status"), F.col("fad")))

RECODE_SQL = (
    "SELECT stems.*, CASE WHEN status = 'D' THEN 'DS' "
    "WHEN status = 'A' AND fad IS NOT NULL THEN 'AU' ELSE status END AS status_r FROM stems"
)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_pip_stems_plots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: PIP assignment of field stems to plot boundaries (filter-refine)."""
    stems = synth.stems(spark, sf_dir)
    plots = synth.plots(spark)
    out = pip_join.pip_join(
        stems, plots, cell_size=50.0, poly_wkb=None, poly_bounds=PLOT_BOUNDS
    )
    return out.select("stem_tag", "plot_id")


def q_pip_assign_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: per crown, contained stem nearest the crown centroid (tie-break)."""
    stems = synth.stems(spark, sf_dir)
    crowns = synth.crowns(spark, sf_dir).drop("stem_tag")  # avoid name collision
    out = pip_join.pip_assign_best(
        stems, crowns, poly_id="crown_id", point_id="stem_tag",
        cell_size=25.0, poly_wkb=None,
    )
    return out.select("crown_id", "stem_tag", "dist")


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: exact k=6 nearest crowns per probe stem via cell-ring pruning.

    r6: inputs are projected to the join/output columns BEFORE the call —
    knn_join caches, enriches, and checkpoints every input column (the
    checkpoint defeats Catalyst's pruning of the final select), so the full
    13-column crown table rode the whole pipeline for a 4-column result."""
    stems = synth.stems(spark, sf_dir).where(F.col("stem_key") % 50 == 0)
    crowns = synth.crowns(spark, sf_dir).drop("stem_tag")
    out = knn.knn_join(
        stems.select("stem_tag", "x", "y"),
        crowns.select("crown_id", "cx", "cy"),
        k=6, left_id="stem_tag", right_id="crown_id",
    )
    return out.select("stem_tag", "crown_id", "dist", "knn_rank")


def q_knn_quadrant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: nearest crown per cardinal quadrant, remove_too_close=3 m.
    Inputs slimmed to the join/output columns before the call (see q_knn)."""
    stems = synth.stems(spark, sf_dir).where(F.col("stem_key") % 50 == 0)
    crowns = synth.crowns(spark, sf_dir).drop("stem_tag")
    out = knn.quadrant_knn_join(
        stems.select("stem_tag", "x", "y"),
        crowns.select("crown_id", "cx", "cy"),
        left_id="stem_tag", right_id="crown_id", min_dist=3.0,
    )
    return out.select("stem_tag", "quadrant", "crown_id", "dist")


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: crowns × overlapping raster tiles (broadcast range join)."""
    crowns = synth.crowns(spark, sf_dir)
    tiles = synth.tiles(spark)
    return tiling.assign_tiles(crowns, tiles).select("crown_id", "tile_id")


def q_boundary_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: tile assignment minus crowns within 0.5 m of the window edge."""
    crowns = synth.crowns(spark, sf_dir)
    tiles = synth.tiles(spark)
    assigned = tiling.assign_tiles(crowns, tiles)
    return tiling.boundary_filter(assigned, margin=0.5).select("crown_id", "tile_id")


def q_dedup_keep_max_dbh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: per dup-tag keep the max-DBH stem (batch_sam.py:741)."""
    stems = synth.stems(spark, sf_dir).select("dup_tag", "stem_tag", "dbh", "stem_key")
    out = dedup.keep_best(stems, key="dup_tag", order_col="dbh", tie_col="stem_key")
    return out.select("dup_tag", "stem_tag", "dbh")


def q_keep_latest_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/W5: per dup-tag keep the latest-Year stem (batch_sam.py:765)."""
    stems = synth.stems(spark, sf_dir)
    out = dedup.keep_best(stems, key="dup_tag", order_col="year", tie_col="stem_key")
    return out.select("dup_tag", "stem_tag", "year")


def q_recode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11+A3: status recode then per-(site, status) counts."""
    s = _recoded_stems(spark, sf_dir)
    return s.groupBy("site_id", "status_r").agg(F.count("*").alias("n"))


def q_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: drop rare classes, downsample all survivors to the min size."""
    s = _recoded_stems(spark, sf_dir)
    out = rebalance.class_filter_rebalance(
        s, group_cols=["site_id", "status_r"], order_col="stem_key", min_count=10
    )
    return out.select("site_id", "status_r", "stem_tag")


def q_factorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: deterministic label encode of status values."""
    s = _recoded_stems(spark, sf_dir)
    return dedup.factorize(s, "status_r", "label_id")


def q_median_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per stem_tag, crown with area closest to the group median."""
    # r6: slim to the (key, id, value) columns the pick uses — the full
    # 13-column crown row otherwise rides the window shuffle and the cache
    crowns = synth.crowns(spark, sf_dir).where(F.col("stem_tag").isNotNull()).select(
        "stem_tag", "crown_id", "ca"
    )
    out = aggregates.median_pick(crowns, key="stem_tag", value="ca", id_col="crown_id")
    return out.select("stem_tag", "crown_id", "ca")


def q_zonal_lidar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-crown lidar point count / mean / min / max of z."""
    # r6: slim both PIP-join sides to the columns the zonal agg reads — the
    # lidar color channels and crown attributes otherwise ride the cell join
    crowns = synth.crowns(spark, sf_dir).select(
        "crown_id", "xmin", "ymin", "xmax", "ymax"
    )
    lidar = synth.lidar(spark, sf_dir).select("x", "y", "z")
    cands = pip_join.pip_join(lidar, crowns, cell_size=25.0, poly_wkb=None)
    # z is milli-quantized by construction → exact integer sum, one division
    # (summation-order-independent, so bit-identical to the oracle)
    return cands.groupBy("crown_id").agg(
        F.count("*").alias("n_pts"),
        (
            F.sum(F.round(F.col("z") * 1000).cast("long")).cast("double")
            / (F.lit(1000.0) * F.count("*"))
        ).alias("z_mean"),
        F.min("z").alias("z_min"),
        F.max("z").alias("z_max"),
    )


def q_zonal_lidar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A7: the LiDAR media_ref path end-to-end — tile docs with laz://
    spans → decode_lidar view → mapInPandas point-cloud load → bbox zonal
    stats. The synthetic resolver's integer-modular milli-quantized formulas
    (media.resolve_lidar) are regenerated verbatim by the SQL oracle."""
    from geotreehealth_spark import media
    from geotreehealth_spark.docs import decode, generator

    crowns = synth.crowns(spark, sf_dir).select(
        "crown_id", "xmin", "ymin", "xmax", "ymax"
    )
    docs = generator.lidar_to_docs(synth.tiles(spark, sf_dir), n_points=1000)
    pts = media.load_lidar_points(decode.decode_lidar(docs))
    cands = pip_join.pip_join(pts, crowns, cell_size=25.0, poly_wkb=None)
    return cands.groupBy("crown_id").agg(
        F.count("*").alias("n_pts"),
        (
            F.sum(F.round(F.col("z") * 1000).cast("long")).cast("double")
            / (F.lit(1000.0) * F.count("*"))
        ).alias("z_mean"),
        F.min("z").alias("z_min"),
        F.max("z").alias("z_max"),
    )


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end north_star stage order under ONE oracle (VERDICT.md round 2
    next 8): decode interleaved docs → PIP containing-else-nearest match (kNN
    fallback) → tile fan-out → zonal LiDAR features through the laz://
    media_ref path — all composed into a single result DataFrame."""
    from geotreehealth_spark import media
    from geotreehealth_spark.docs import decode, generator
    from geotreehealth_spark.operators import matching, tiling

    # stage 1: the interleaved-docs input model, decoded back to typed views
    stems = decode.decode_stems(generator.stems_to_docs(synth.stems(spark, sf_dir)))
    probes = stems.where(F.col("stem_tag").cast("long") % 10 == 0)
    # r6: crowns feed three stages (match, tile fan-out, zonal) — persist the
    # derivation once instead of re-running the lineitem groupBy per stage,
    # projected to the columns those stages read (see q_knn)
    crowns = synth.crowns(spark, sf_dir).select(
        "crown_id", "cx", "cy", "xmin", "ymin", "xmax", "ymax", "ca"
    ).persist()
    # stage 2: containing-else-nearest (PIP, kNN fallback for the residue)
    matched = matching.containing_else_nearest(
        probes, crowns, point_id="stem_tag", poly_id="crown_id", area_col="ca",
        cell_size=25.0, poly_wkb=None,
    ).select("stem_tag", "crown_id", "method")
    # stage 3: raster-tile fan-out per crown (J12 broadcast range join)
    tiles = synth.tiles(spark)
    tile_counts = (
        tiling.assign_tiles(crowns, tiles)
        .groupBy("crown_id")
        .agg(F.count("*").alias("n_tiles"))
    )
    # stage 4: zonal LiDAR stats via the laz:// media_ref docs path (S6/A7)
    docs = generator.lidar_to_docs(synth.tiles(spark, sf_dir), n_points=1000)
    pts = media.load_lidar_points(decode.decode_lidar(docs))
    zl = (
        pip_join.pip_join(pts, crowns, cell_size=25.0, poly_wkb=None)
        .groupBy("crown_id")
        .agg(
            F.count("*").alias("n_pts"),
            (
                F.sum(F.round(F.col("z") * 1000).cast("long")).cast("double")
                / (F.lit(1000.0) * F.count("*"))
            ).alias("z_mean"),
        )
    )
    return (
        matched.join(tile_counts, "crown_id", "left")
        .join(zl, "crown_id", "left")
        .select("stem_tag", "crown_id", "method", "n_tiles", "n_pts", "z_mean")
    )


def q_zonal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: exact rank-based CHM height percentiles per crown."""
    crowns = synth.crowns(spark, sf_dir).select(
        "crown_id", "xmin", "ymin", "xmax", "ymax"
    )
    lidar = synth.lidar(spark, sf_dir).select("point_id", "x", "y", "z")
    cands = pip_join.pip_join(lidar, crowns, cell_size=25.0, poly_wkb=None)
    return aggregates.rank_percentile(
        cands.select("crown_id", "z", "point_id"),
        key="crown_id", value="z", tie_col="point_id",
        quantiles={"z_p50": 0.5, "z_p95": 0.95},
    )


def q_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: probe crowns × overlapping crowns with box-IoU > 0.3."""
    crowns = synth.crowns(spark, sf_dir).select(
        "crown_id", "crown_key", "xmin", "ymin", "xmax", "ymax"
    )
    pairs = overlap.overlap_selfjoin(
        crowns, id_col="crown_id", cell_size=50.0,
        left_filter=(F.col("crown_key") % 97 == 0),
    )
    pairs = pairs.withColumn("iou", overlap.box_iou_cols())
    return pairs.where(F.col("iou") > 0.3).select(
        F.col("a_crown_id").alias("crown_a"),
        F.col("b_crown_id").alias("crown_b"),
        "iou",
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family sanity: TPC-H Q1-style aggregation (exact decimal sums)."""
    synth.register_tpch_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2-style ranking: top-3 orders per priority by (price desc, key)."""
    synth.register_tpch_views(spark, sf_dir)
    from pyspark.sql.window import Window

    orders = spark.table("orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


def q_containing_else_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per stem, largest containing crown; else nearest-centroid crown
    (get_polygons.py:100-111, 766-777)."""
    from geotreehealth_spark.operators import matching

    stems = synth.stems(spark, sf_dir).where(F.col("stem_key") % 20 == 0)
    # r6: project both sides to the match's working columns before the call —
    # the operator persists its inputs, so unused attribute columns would
    # ride the cache and the PIP/kNN pipelines (see q_knn)
    crowns = synth.crowns(spark, sf_dir).select(
        "crown_id", "cx", "cy", "xmin", "ymin", "xmax", "ymax", "ca"
    )
    out = matching.containing_else_nearest(
        stems.select("stem_tag", "x", "y"), crowns,
        point_id="stem_tag", poly_id="crown_id", area_col="ca",
        cell_size=25.0, poly_wkb=None,
    )
    return out.select("stem_tag", "crown_id", "method")


def q_feature_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: equal-tag feature-space NN match under a distance threshold
    (delineation_utils.py:372-398 align_data)."""
    from geotreehealth_spark.operators import matching

    stems = synth.stems(spark, sf_dir).select(
        "stem_tag",
        "stem_key",
        (F.col("dbh") / F.lit(10.0)).alias("lf1"),
        F.col("crown_position").cast("double").alias("lf2"),
    )
    crowns = synth.crowns(spark, sf_dir).where(F.col("stem_tag").isNotNull()).select(
        "stem_tag",
        "crown_id",
        F.col("radius").alias("rf1"),
        (F.col("score") * F.lit(5.0)).alias("rf2"),
    )
    out = matching.feature_nn_match(
        stems, crowns, tag_col="stem_tag", left_id="stem_key", right_id="crown_id",
        feature_pairs=[("lf1", "rf1"), ("lf2", "rf2")], threshold=1.5,
    )
    return out.select(F.col("stem_key").cast("long").alias("stem_key"), "crown_id", "fdist")


def q_pair_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: distances between stems sharing a dup_tag
    (delineation_utils.py:62-90 calculate_distances)."""
    from geotreehealth_spark.operators import matching

    stems = synth.stems(spark, sf_dir)
    return matching.same_tag_pair_distances(
        stems, stems, tag_col="dup_tag", left_id="stem_tag", right_id="stem_tag",
        dedup_self=True,
    )


def q_random_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: 5 deterministic pseudo-random crowns per probe stem
    (get_polygons.py:331-332 with RNG replaced by an integer hash)."""
    from geotreehealth_spark.operators import matching

    stems = synth.stems(spark, sf_dir).where(F.col("stem_key") % 200 == 0).select(
        "stem_tag", "stem_key"
    )
    crowns = synth.crowns(spark, sf_dir).select("crown_id", "crown_key")
    return matching.random_k_sample(
        stems, crowns, k=5, left_id="stem_tag", right_id="crown_id",
        left_key="stem_key", right_key="crown_key",
    )


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 closer: 70/15/15 split stratified on (site, recoded status)
    (main.py:187-189), deterministic hash order."""
    s = _recoded_stems(spark, sf_dir)
    order = F.pmod(F.col("stem_key") * F.lit(2654435761), F.lit(1000000007))
    out = rebalance.stratified_split(
        s, strata_cols=["site_id", "status_r"], order_cols=[order, F.col("stem_key")]
    )
    return out.select("stem_tag", "site_id", "status_r", "split")


def q_percentile_stretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: rank-based 2-98 percentile stretch of lidar z and red channels
    (main.py:53-61, store_data_structures.py:84-88)."""
    lidar = synth.lidar(spark, sf_dir).where(F.col("point_id") % 20 == 0)
    out = aggregates.percentile_stretch(lidar, ["z", "red"], lo=0.02, hi=0.98)
    return out.select("point_id", "z_stretch", "red_stretch")


def q_group_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per stem_tag, first crown under (score desc, crown_id) order
    (delineation_utils.py:453)."""
    crowns = synth.crowns(spark, sf_dir).where(F.col("stem_tag").isNotNull())
    out = aggregates.first_by_order(
        crowns, key="stem_tag", order_cols=[F.col("score").desc(), F.col("crown_id").asc()]
    )
    return out.select("stem_tag", "crown_id", "score")


def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: distinct recoded-status classes per site."""
    s = _recoded_stems(spark, sf_dir)
    return aggregates.distinct_count(s, key="site_id", value="status_r")


def q_drop_smallest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: drop the smallest 10% of stems by DBH per site (percent_rank)."""
    stems = synth.stems(spark, sf_dir)
    out = aggregates.drop_smallest_fraction(stems, key="site_id", value="dbh", frac=0.1)
    return out.select("site_id", "stem_tag", "dbh")


# --------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# --------------------------------------------------------------------------

def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    synth.register_tpch_views(spark, sf_dir)
    return spark.table("documents")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotreehealth_spark.text import dedup as tdedup

    return tdedup.exact_dedup(_documents(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotreehealth_spark.text import analysis

    return analysis.fingerprint(_documents(spark, sf_dir))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotreehealth_spark.text import analysis

    return analysis.text_stats(_documents(spark, sf_dir))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotreehealth_spark.text import analysis

    return analysis.token_count(_documents(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotreehealth_spark.text import analysis

    return analysis.lang_id(_documents(spark, sf_dir))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotreehealth_spark.text import dedup as tdedup

    docs = _documents(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    # df-FRACTION stop-token cap (VERDICT.md round 2 "What's wrong" 3): drop
    # tokens present in > 85% of docs. An absolute cap (round 2 used 50)
    # stops scaling with the corpus — at sf0.1 it dropped EVERY token and the
    # bench measured an empty join. Integer arithmetic ((85*n)//100) keeps
    # the Spark and DuckDB thresholds bit-identical.
    max_df = (85 * docs.count()) // 100
    return tdedup.jaccard_pairs(docs, threshold=0.5, max_df=max_df)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram shingle Jaccard near-dup pairs with the same
    85%-of-corpus stop-shingle cap as jaccard_pairs."""
    from geotreehealth_spark.text import dedup as tdedup

    docs = _documents(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    max_df = (85 * docs.count()) // 100
    return tdedup.ngram_jaccard_pairs(docs, n=4, threshold=0.35, max_df=max_df)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotreehealth_spark.text import similarity

    synth.register_tpch_views(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.cosine_topk(emb, probes, k=10)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs (exact SQL oracle: shared-dialect
    md5-derived token hashing + identical int64 permutation arithmetic)."""
    from geotreehealth_spark.text import dedup as tdedup

    return tdedup.minhash_lsh_pairs(_documents(spark, sf_dir), n_perm=64, bands=16)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3. The oracle is BRUTE FORCE over
    all pairs, so a green row certifies the pigeonhole blocking's exact recall
    (round-1 shipped max_hamming=12 on 4 chunks — guaranteed only to 3)."""
    from geotreehealth_spark.text import dedup as tdedup

    return tdedup.simhash_dedup_pairs(_documents(spark, sf_dir), max_hamming=3)


def q_rp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified random-hyperplane LSH near-dup pairs + exact cosine refine
    (8 tables x 6 planes; oracle replicates the buckets from the same plane
    constants). Random 64-d embeddings top out near cosine 0.5 → threshold 0.25."""
    from geotreehealth_spark.text import similarity

    synth.register_tpch_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return similarity.rp_lsh_pairs(
        emb, dim=64, n_tables=8, n_planes=6, min_sim=0.25
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN (LSH candidates + exact cosine re-rank) — the scale path
    composition for similarity search; exact top-k stays q_ann_cosine_topk."""
    from geotreehealth_spark.text import similarity

    synth.register_tpch_views(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.ann_lsh_topk(emb, probes, k=10, dim=64, n_tables=8, n_planes=6)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-file candidates + exact cosine re-rank) — the
    brief's second bucketed scale path beside LSH; deterministic coarse
    quantizer so the gate is exact (similarity.ivf_centroids)."""
    from geotreehealth_spark.text import similarity

    synth.register_tpch_views(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.ann_ivf_topk(emb, probes, k=10, dim=64, n_lists=16, nprobe=4)


NMS_SUBSET_SQL = (
    "SELECT crown_id, score, xmin, ymin, xmax, ymax FROM crowns WHERE crown_key % 5 = 0"
)
WNMS_SUBSET_SQL = """
    SELECT c.crown_id, c.xmin, c.ymin, c.xmax, c.ymax,
           CAST(s.crown_position AS DOUBLE) + s.dbh AS priority
    FROM crowns c JOIN stems s ON c.stem_tag = s.stem_tag
    WHERE c.crown_key % 3 = 0
"""


def q_nms_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: exact distributed greedy NMS, box criterion → full SQL oracle (the
    fixpoint unrolled as chained CTEs). The irregular-polygon WKB path runs the
    same fixpoint and keeps its sequential-parity pytest coverage
    (tests/test_spatial_parity.py)."""
    from geotreehealth_spark.operators import nms

    # 1-in-5 subset: the full synthetic corpus packs 2.4 crowns/m^2 in the hot
    # strip (every crown overlapping ~200 others) — an adversarial density no
    # real delineation produces and inherently Θ(n·k) ≈ 10^9 exact pairs.
    crowns = synth.crowns(spark, sf_dir).where(F.col("crown_key") % 5 == 0)
    # cell ~ crown diameter: in the dense strip a 50 m cell holds thousands of
    # crowns; 10 m keeps the candidate count near the true bbox-overlap count
    out = nms.greedy_nms(
        crowns, id_col="crown_id", score_col="score", threshold=0.3,
        cell_size=10.0, bounds=("xmin", "ymin", "xmax", "ymax"), wkb_col=None,
    )
    return out.select("crown_id", "selected")


def q_weighted_nms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: weighted NMS — score = (crwnpst + DBH) - Σ quantized overlap
    penalty (batch_sam.py:692-731, 579-580), box IoU > 0.5 criterion."""
    from geotreehealth_spark.operators import nms

    crowns = synth.crowns(spark, sf_dir).where(F.col("crown_key") % 3 == 0)
    stems = synth.stems(spark, sf_dir).select(
        "stem_tag", (F.col("crown_position").cast("double") + F.col("dbh")).alias("priority")
    )
    polys = crowns.join(stems, "stem_tag").select(
        "crown_id", "xmin", "ymin", "xmax", "ymax", "priority"
    )
    out = nms.weighted_nms(
        polys, id_col="crown_id", priority_col="priority", threshold=0.5,
        cell_size=10.0,
    )
    return out.select("crown_id", "wscore", "selected")


def q_zonal_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-crown band stats through the FULL zonal path (tile assignment,
    count-proportional salting, applyInPandas rasterize, partial merge) —
    exact SQL oracle: crown footprints are boxes snapped to the 0.25 grid
    (every decision boundary lands a quarter-pixel away from pixel centers,
    so all arithmetic is exact in both engines) over constant-per-band hsic
    tiles whose zonal means are closed-form. Irregular-polygon/random-cube
    parity stays in tests/test_zonal.py."""
    from geotreehealth_spark.operators import tiling, zonal

    crowns = synth.crowns(spark, sf_dir)
    boxed = crowns.select(
        "crown_id",
        (F.floor("xmin") + 0.25).alias("bxmin"),
        (F.floor("ymin") + 0.25).alias("bymin"),
        (F.floor("xmax") + 0.25).alias("bxmax"),
        (F.floor("ymax") + 0.25).alias("bymax"),
    )
    tiles = tiling.tile_grid(spark, extent=1000.0, tile_size=100.0, overlap=0.0).selectExpr(
        "tile_id", "txmin", "tymin", "txmax", "tymax",
        "concat('hsic://tile/', CAST(tile_key AS STRING)) AS media_ref",
        "8 AS bands", "100 AS height", "100 AS width", "tile_key",
    )
    # r6: wkb_col=None box convention — the footprints ARE their bounds
    # boxes, so the WKB encode UDF + per-row decode + 93 B/row shuffle are
    # pure overhead (the in-batch ring is vertex-identical to the encoded one)
    out = zonal.zonal_raster_stats(
        boxed, tiles, crown_bounds=("bxmin", "bymin", "bxmax", "bymax"),
        wkb_col=None, n_bands=8,
    )
    return out.select(
        "crown_id",
        "n_px",
        F.col("band_mean")[0].alias("band0_mean"),
        F.col("band_mean")[7].alias("band7_mean"),
    )


def q_band_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 array ops: band slice → drop noisy band → pad, all pure Catalyst
    (build_dataloaders.py:80-81 band dropping)."""
    from geotreehealth_spark import arrays

    synth.register_tpch_views(spark, sf_dir)
    emb = spark.table("embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sliced = arrays.band_slice(v, 1, 8)
    dropped = arrays.band_drop(sliced, 3)
    padded = arrays.band_pad(dropped, 10, -1.0)
    return emb.select(
        "vec_id",
        F.size(padded).alias("n_bands"),
        F.element_at(padded, 1).alias("b1"),
        F.element_at(padded, 7).alias("b7"),
        F.element_at(padded, 10).alias("b10"),
    )


def q_window_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: crown centers translated into their tile's window frame (x-offset,
    y-flip — get_polygons.py:540-548)."""
    from geotreehealth_spark.operators import tiling as t

    crowns = synth.crowns(spark, sf_dir).where(F.col("crown_key") % 25 == 1)
    assigned = t.assign_tiles(crowns, synth.tiles(spark))
    out = t.translate_to_window(assigned, "cx", "cy", "txmin", "tymax")
    return out.select("crown_id", "tile_id", "wx", "wy")


def q_explode_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: MultiPolygon → single-part explode through the real WKB codec
    (delineation_utils.py:93-104). Fixtures are two integer-snapped boxes per
    crown, so per-part shoelace areas are exact integers the oracle rebuilds."""
    from geotreehealth_spark.docs import generator
    from geotreehealth_spark.operators import vectorize
    from geotreehealth_spark.operators.udfs import polygon_area_udf

    crowns = synth.crowns(spark, sf_dir).where(F.col("crown_key") % 40 == 1)
    boxes = crowns.select(
        "crown_id",
        F.floor("xmin").cast("double").alias("x0"),
        F.floor("ymin").cast("double").alias("y0"),
        (F.floor("xmax") + 1).cast("double").alias("x1"),
        (F.floor("ymax") + 1).cast("double").alias("y1"),
    )
    multis = boxes.withColumn(
        "geometry_wkb",
        generator.two_box_multi_udf(
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
            F.col("x0") + 30.0, F.col("y0") + 30.0, F.col("x0") + 35.0, F.col("y0") + 37.0,
        ),
    ).withColumn("gtype", vectorize.geometry_type_col("geometry_wkb"))
    parts = vectorize.explode_multi(multis.where(F.col("gtype") == 6))
    return parts.select(
        "crown_id",
        "part_idx",
        polygon_area_udf(F.col("part_wkb")).alias("part_area"),
    )


RECTS_SQL = """
    SELECT stem_tag AS mask_id,
           (stem_key * 7) % 60 AS ar0, (stem_key * 13) % 60 AS ac0,
           10 + (stem_key % 17) AS ah, 8 + (stem_key % 23) AS aw,
           (stem_key * 11) % 70 AS br0, (stem_key * 19) % 70 AS bc0,
           6 + (stem_key % 13) AS bh, 12 + (stem_key % 11) AS bw
    FROM stems WHERE stem_key % 50 = 0
"""


def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector: mask → per-component polygons (get_polygons.py:75-111,
    batch_sam.py:496-548) through the full mapInPandas path, aggregated to
    (mask_id, n_polys, total_px, max_area) whose closed forms the oracle
    rebuilds from the two-rectangle mask construction."""
    from geotreehealth_spark.docs import generator
    from geotreehealth_spark.operators import vectorize

    synth.register_tpch_views(spark, sf_dir)
    rects = spark.sql(RECTS_SQL.replace("FROM stems", f"FROM ({synth.STEMS_SQL})"))
    masks = rects.select(
        "mask_id",
        generator.two_rect_mask_udf(
            "ar0", "ac0", "ah", "aw", "br0", "bc0", "bh", "bw"
        ).alias("mask_bits"),
        F.lit(100).alias("height"),
        F.lit(100).alias("width"),
        F.lit(0.0).alias("txmin"),
        F.lit(100.0).alias("tymax"),
    )
    parts = vectorize.polygonize_masks(masks)
    return parts.groupBy("mask_id").agg(
        F.count("*").cast("long").alias("n_polys"),
        F.sum("n_px").alias("total_px"),
        F.max("area").alias("max_area"),
    )


def q_geometric_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-cell unary_union of integer-snapped crown boxes
    (from_mask_to_polygons.py:34-41) — output (gid, n_parts, union_px); the
    oracle counts union pixels by enumeration and components by recursive
    min-label propagation over the box-adjacency graph."""
    from geotreehealth_spark.operators import vectorize

    crowns = synth.crowns(spark, sf_dir).where(F.col("crown_key") % 20 == 1)
    boxed = crowns.select(
        F.concat_ws(
            "_",
            F.floor(F.col("cx") / 50).cast("long"),
            F.floor(F.col("cy") / 50).cast("long"),
        ).alias("gid"),
        F.floor("xmin").cast("double").alias("x0"),
        F.floor("ymin").cast("double").alias("y0"),
        (F.floor("xmax") + 1).cast("double").alias("x1"),
        (F.floor("ymax") + 1).cast("double").alias("y1"),
    )
    # r6: bounds_cols box convention — rings are built in-batch from the four
    # bound columns (vertex-identical to the encoded boxes), skipping the WKB
    # encode UDF and per-row decode
    parts = vectorize.geometric_union(
        boxed, group_col="gid", wkb_col=None, res=1.0,
        bounds_cols=("x0", "y0", "x1", "y1"),
    )
    return parts.groupBy("gid").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("n_px").alias("union_px"),
    )


def q_docs_decode_stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-docs roundtrip under the oracle gate: synth stems → docs
    (meta/attr/geom spans) → decode → must equal the plain derivation."""
    from geotreehealth_spark.docs import decode, generator

    stems = synth.stems(spark, sf_dir)
    docs = generator.stems_to_docs(stems)
    decoded = decode.decode_stems(docs)
    return decoded.select(
        "stem_tag", "x", "y", "dbh", "year", "status", "crown_position", "fad", "site_id"
    )


def _const_media_refs(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """documents subset → (doc_id string, media_ref '<prefix>key') with
    key = doc_id % 997, SQL-derivable so the constant-media oracles can
    regenerate the refs (VERDICT r3 missing 1). Reads through _documents()
    (the repartitioned view) — the raw single-row-group fixture parquet would
    pin the whole narrow decode chain to ONE task."""
    docs = _documents(spark, sf_dir).where(F.col("doc_id") % 4 == 0)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit(prefix), (F.col("doc_id") % 997).cast("string")).alias(
            "media_ref"
        ),
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image path under the oracle gate: imgc:// constant-color
    refs → mapInPandas decode → bilinear 64→16 resize → channel mean/std.
    The 4:1 resize has exactly-0.5 weights, so the constant survives
    bit-exact and mean/std are closed-form in SQL (media.resolve_image)."""
    from geotreehealth_spark.operators import media_features

    refs = _const_media_refs(spark, sf_dir, "imgc://")
    return media_features.image_features(refs)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path under the oracle gate: audc:// constant clips →
    mapInPandas decode → strided framing → windowed RMS/ZCR. For a constant
    float32 amplitude a, every frame's RMS is exactly sqrt(a*a) and ZCR is
    exactly 0 (media.resolve_audio); the spectral centroid column is kept out
    of the gated projection (FFT round-off is not SQL-reproducible)."""
    from geotreehealth_spark.operators import media_features

    refs = _const_media_refs(spark, sf_dir, "audc://")
    return media_features.audio_features(refs).select(
        "doc_id", "frame_idx", "rms", "zcr"
    )


def q_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video path under the oracle gate: vidc:// clips with
    constant frames (source frame j channel c = (key*31 + j*11 + c*7) % 256)
    → mapInPandas frame sampling (every 8th of 32) → per-frame channel means,
    closed-form in SQL (media.resolve_frames)."""
    from geotreehealth_spark.operators import media_features

    refs = _const_media_refs(spark, sf_dir, "vidc://")
    return media_features.frame_sample_features(refs)


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the word-Jaccard near-dup graph: (doc_id,
    component) with component = min doc id reachable — the canonical-keeper
    convention of exact_dedup. Min-label propagation (operators/components.py)
    against a DuckDB WITH RECURSIVE reachability oracle."""
    from geotreehealth_spark.operators import components
    from geotreehealth_spark.text import dedup as tdedup

    docs = _documents(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    max_df = (85 * docs.count()) // 100
    pairs = tdedup.jaccard_pairs(docs, threshold=0.5, max_df=max_df).select(
        "id_a", "id_b"
    )
    out = components.connected_components(pairs, "id_a", "id_b")
    return out.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crown→stem assignment with centroid tie-break at sf0.001."""
    return q_pip_assign_best(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pip_stems_plots": q_pip_stems_plots,
        "pip_assign_best": q_pip_assign_best,
        "knn": q_knn,
        "knn_quadrant": q_knn_quadrant,
        "tile_assign": q_tile_assign,
        "boundary_filter": q_boundary_filter,
        "dedup_keep_max_dbh": q_dedup_keep_max_dbh,
        "keep_latest_year": q_keep_latest_year,
        "recode_counts": q_recode_counts,
        "class_rebalance": q_class_rebalance,
        "factorize": q_factorize,
        "median_pick": q_median_pick,
        "zonal_lidar": q_zonal_lidar,
        "zonal_percentiles": q_zonal_percentiles,
        "overlap_pairs": q_overlap_pairs,
        "containing_else_nearest": q_containing_else_nearest,
        "feature_nn": q_feature_nn,
        "pair_distances": q_pair_distances,
        "random_k_sample": q_random_k_sample,
        "stratified_split": q_stratified_split,
        "percentile_stretch": q_percentile_stretch,
        "group_first": q_group_first,
        "distinct_count": q_distinct_count,
        "drop_smallest": q_drop_smallest,
        "polygonize": q_polygonize,
        "geometric_union": q_geometric_union,
        "band_ops": q_band_ops,
        "window_translate": q_window_translate,
        "explode_multi": q_explode_multi,
        "tpch_q1": q_tpch_q1,
        "topk_orders": q_topk_orders,
        "dedup_exact": q_dedup_exact,
        "fingerprint": q_fingerprint,
        "text_stats": q_text_stats,
        "token_count": q_token_count,
        "lang_id": q_lang_id,
        "jaccard_pairs": q_jaccard_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "rp_lsh_pairs": q_rp_lsh_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "nms_greedy": q_nms_greedy,
        "weighted_nms": q_weighted_nms,
        "zonal_raster": q_zonal_raster,
        "docs_decode_stems": q_docs_decode_stems,
        "zonal_lidar_docs": q_zonal_lidar_docs,
        "pipeline_e2e": q_pipeline_e2e,
        "image_features": q_image_features,
        "audio_features": q_audio_features,
        "frame_features": q_frame_features,
        "dup_components": q_dup_components,
    }


def oracle_sql() -> dict[str, str]:
    W = synth.oracle_with
    stems = ("stems", V["stems"])
    crowns = ("crowns", V["crowns"])
    plots = ("plots", V["plots"])
    tiles = ("tiles", V["tiles"])
    lidar = ("lidar", V["lidar"])
    recoded = ("stems_r", RECODE_SQL)

    return {
        "pip_stems_plots": W(stems, plots) + """
            SELECT s.stem_tag, p.plot_id
            FROM stems s JOIN plots p
              ON s.x >= p.pxmin AND s.x < p.pxmax
             AND s.y >= p.pymin AND s.y < p.pymax
        """,
        "pip_assign_best": W(stems, crowns) + f"""
            SELECT crown_id, stem_tag, dist FROM (
                SELECT c.crown_id, s.stem_tag, {DIST_SQL} AS dist
                FROM crowns c JOIN stems s
                  ON s.x >= c.xmin AND s.x < c.xmax
                 AND s.y >= c.ymin AND s.y < c.ymax
            ) QUALIFY ROW_NUMBER() OVER (
                PARTITION BY crown_id ORDER BY dist, stem_tag) = 1
        """,
        "knn": W(stems, crowns) + f"""
            SELECT stem_tag, crown_id, dist, knn_rank FROM (
                SELECT s.stem_tag, c.crown_id, {DIST_SQL} AS dist,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.stem_tag ORDER BY {DIST_SQL}, c.crown_id
                       ) AS knn_rank
                FROM stems s CROSS JOIN crowns c
                WHERE s.stem_key % 50 = 0
            ) WHERE knn_rank <= 6
        """,
        "knn_quadrant": W(stems, crowns) + f"""
            SELECT stem_tag, quadrant, crown_id, dist FROM (
                SELECT s.stem_tag, c.crown_id, {DIST_SQL} AS dist,
                       CASE WHEN c.cx >= s.x AND c.cy >= s.y THEN 'NE'
                            WHEN c.cx >= s.x AND c.cy <  s.y THEN 'SE'
                            WHEN c.cx <  s.x AND c.cy >= s.y THEN 'NW'
                            ELSE 'SW' END AS quadrant
                FROM stems s CROSS JOIN crowns c
                WHERE s.stem_key % 50 = 0
            ) WHERE dist >= 3e0
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY stem_tag, quadrant ORDER BY dist, crown_id) = 1
        """,
        "tile_assign": W(crowns, tiles) + """
            SELECT c.crown_id, t.tile_id
            FROM crowns c JOIN tiles t
              ON c.xmin < t.txmax AND c.xmax > t.txmin
             AND c.ymin < t.tymax AND c.ymax > t.tymin
        """,
        "boundary_filter": W(crowns, tiles) + """
            SELECT c.crown_id, t.tile_id
            FROM crowns c JOIN tiles t
              ON c.xmin < t.txmax AND c.xmax > t.txmin
             AND c.ymin < t.tymax AND c.ymax > t.tymin
            WHERE c.xmin >= t.txmin + 0.5e0 AND c.ymin >= t.tymin + 0.5e0
              AND c.xmax <= t.txmax - 0.5e0 AND c.ymax <= t.tymax - 0.5e0
        """,
        "dedup_keep_max_dbh": W(stems) + """
            SELECT dup_tag, stem_tag, dbh FROM stems
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY dup_tag ORDER BY dbh DESC, stem_key DESC) = 1
        """,
        "keep_latest_year": W(stems) + """
            SELECT dup_tag, stem_tag, year FROM stems
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY dup_tag ORDER BY year DESC, stem_key DESC) = 1
        """,
        "recode_counts": W(stems, recoded) + """
            SELECT site_id, status_r, COUNT(*) AS n
            FROM stems_r GROUP BY site_id, status_r
        """,
        "class_rebalance": W(stems, recoded) + """
            , cnt AS (
                SELECT site_id, status_r, COUNT(*) AS c
                FROM stems_r GROUP BY site_id, status_r HAVING COUNT(*) > 10
            ), tgt AS (SELECT MIN(c) AS m FROM cnt),
            ranked AS (
                SELECT s.site_id, s.status_r, s.stem_tag,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.site_id, s.status_r ORDER BY s.stem_key
                       ) AS rn
                FROM stems_r s
                JOIN cnt ON s.site_id = cnt.site_id AND s.status_r = cnt.status_r
            )
            SELECT site_id, status_r, stem_tag FROM ranked, tgt WHERE rn <= m
        """,
        "factorize": W(stems, recoded) + """
            SELECT status_r,
                   CAST(DENSE_RANK() OVER (ORDER BY status_r) - 1 AS INT) AS label_id
            FROM (SELECT DISTINCT status_r FROM stems_r)
        """,
        "median_pick": W(crowns) + """
            , nn AS (SELECT * FROM crowns WHERE stem_tag IS NOT NULL),
            ranked AS (
                SELECT stem_tag, crown_id, ca,
                       ROW_NUMBER() OVER (PARTITION BY stem_tag ORDER BY ca, crown_id) AS rn,
                       COUNT(*) OVER (PARTITION BY stem_tag) AS n
                FROM nn
            ),
            mid AS (
                SELECT stem_tag, (MIN(ca) + MAX(ca)) / 2e0 AS med
                FROM ranked
                WHERE rn = CAST(FLOOR((n + 1) / 2e0) AS BIGINT)
                   OR rn = CAST(CEIL((n + 1) / 2e0) AS BIGINT)
                GROUP BY stem_tag
            )
            SELECT stem_tag, crown_id, ca FROM (
                SELECT nn.stem_tag, nn.crown_id, nn.ca,
                       ROW_NUMBER() OVER (
                           PARTITION BY nn.stem_tag
                           ORDER BY ABS(nn.ca - mid.med), nn.crown_id
                       ) AS rn
                FROM nn JOIN mid ON nn.stem_tag = mid.stem_tag
            ) WHERE rn = 1
        """,
        "zonal_lidar": W(crowns, lidar) + """
            SELECT c.crown_id, COUNT(*) AS n_pts,
                   CAST(SUM(CAST(ROUND(l.z * 1000e0) AS BIGINT)) AS DOUBLE)
                       / (1000e0 * COUNT(*)) AS z_mean,
                   MIN(l.z) AS z_min, MAX(l.z) AS z_max
            FROM crowns c JOIN lidar l
              ON l.x >= c.xmin AND l.x < c.xmax
             AND l.y >= c.ymin AND l.y < c.ymax
            GROUP BY c.crown_id
        """,
        "zonal_lidar_docs": W(crowns, tiles) + """
            , pts AS (
                SELECT t.tile_key * 1000000 + s.i AS pid,
                       t.txmin, t.tymin, t.txmax, t.tymax
                FROM tiles t, generate_series(0, 999) s(i)
            ), cloud AS (
                SELECT txmin + ((pid * 104729)
                           % CAST(ROUND((txmax - txmin) * 1000e0) AS BIGINT))
                           / 1000e0 AS x,
                       tymin + ((pid * 15485863)
                           % CAST(ROUND((tymax - tymin) * 1000e0) AS BIGINT))
                           / 1000e0 AS y,
                       ((pid * 7919) % 35000) / 1000e0 AS z
                FROM pts
            )
            SELECT c.crown_id, COUNT(*) AS n_pts,
                   CAST(SUM(CAST(ROUND(l.z * 1000e0) AS BIGINT)) AS DOUBLE)
                       / (1000e0 * COUNT(*)) AS z_mean,
                   MIN(l.z) AS z_min, MAX(l.z) AS z_max
            FROM crowns c JOIN cloud l
              ON l.x >= c.xmin AND l.x < c.xmax
             AND l.y >= c.ymin AND l.y < c.ymax
            GROUP BY c.crown_id
        """,
        "zonal_percentiles": W(crowns, lidar) + """
            , cand AS (
                SELECT c.crown_id, l.z, l.point_id
                FROM crowns c JOIN lidar l
                  ON l.x >= c.xmin AND l.x < c.xmax
                 AND l.y >= c.ymin AND l.y < c.ymax
            ), ranked AS (
                SELECT crown_id, z,
                       ROW_NUMBER() OVER (PARTITION BY crown_id ORDER BY z, point_id) AS rn,
                       COUNT(*) OVER (PARTITION BY crown_id) AS n
                FROM cand
            )
            SELECT crown_id,
                   MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5e0 * n) AS BIGINT))
                            THEN z END) AS z_p50,
                   MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.95e0 * n) AS BIGINT))
                            THEN z END) AS z_p95
            FROM ranked GROUP BY crown_id
        """,
        "overlap_pairs": W(crowns) + """
            SELECT crown_a, crown_b, iou FROM (
                SELECT a.crown_id AS crown_a, b.crown_id AS crown_b,
                       GREATEST(LEAST(a.xmax, b.xmax) - GREATEST(a.xmin, b.xmin), 0e0)
                       * GREATEST(LEAST(a.ymax, b.ymax) - GREATEST(a.ymin, b.ymin), 0e0)
                       / ((a.xmax - a.xmin) * (a.ymax - a.ymin)
                          + (b.xmax - b.xmin) * (b.ymax - b.ymin)
                          - GREATEST(LEAST(a.xmax, b.xmax) - GREATEST(a.xmin, b.xmin), 0e0)
                            * GREATEST(LEAST(a.ymax, b.ymax) - GREATEST(a.ymin, b.ymin), 0e0))
                       AS iou
                FROM crowns a JOIN crowns b
                  ON a.crown_id <> b.crown_id
                 AND a.xmin < b.xmax AND a.xmax > b.xmin
                 AND a.ymin < b.ymax AND a.ymax > b.ymin
                WHERE a.crown_key % 97 = 0
            ) WHERE iou > 0.3e0
        """,
        "pipeline_e2e": W(stems, crowns, tiles) + f"""
            , probes AS (SELECT * FROM stems WHERE stem_key % 10 = 0),
            contained AS (
                SELECT stem_tag, crown_id, 'contained' AS method FROM (
                    SELECT s.stem_tag, c.crown_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY s.stem_tag ORDER BY c.ca DESC, c.crown_id
                           ) AS rn
                    FROM probes s JOIN crowns c
                      ON s.x >= c.xmin AND s.x < c.xmax
                     AND s.y >= c.ymin AND s.y < c.ymax
                ) WHERE rn = 1
            ),
            residue AS (
                SELECT * FROM probes
                WHERE stem_tag NOT IN (SELECT stem_tag FROM contained)
            ),
            nearest AS (
                SELECT stem_tag, crown_id, 'nearest' AS method FROM (
                    SELECT s.stem_tag, c.crown_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY s.stem_tag ORDER BY {DIST_SQL}, c.crown_id
                           ) AS rn
                    FROM residue s CROSS JOIN crowns c
                ) WHERE rn = 1
            ),
            matched AS (SELECT * FROM contained UNION ALL SELECT * FROM nearest),
            tile_counts AS (
                SELECT c.crown_id, COUNT(*) AS n_tiles
                FROM crowns c JOIN tiles t
                  ON c.xmin < t.txmax AND c.xmax > t.txmin
                 AND c.ymin < t.tymax AND c.ymax > t.tymin
                GROUP BY c.crown_id
            ),
            pts AS (
                SELECT t.tile_key * 1000000 + s.i AS pid,
                       t.txmin, t.tymin, t.txmax, t.tymax
                FROM tiles t, generate_series(0, 999) s(i)
            ), cloud AS (
                SELECT txmin + ((pid * 104729)
                           % CAST(ROUND((txmax - txmin) * 1000e0) AS BIGINT))
                           / 1000e0 AS x,
                       tymin + ((pid * 15485863)
                           % CAST(ROUND((tymax - tymin) * 1000e0) AS BIGINT))
                           / 1000e0 AS y,
                       ((pid * 7919) % 35000) / 1000e0 AS z
                FROM pts
            ), zl AS (
                SELECT c.crown_id, COUNT(*) AS n_pts,
                       CAST(SUM(CAST(ROUND(l.z * 1000e0) AS BIGINT)) AS DOUBLE)
                           / (1000e0 * COUNT(*)) AS z_mean
                FROM crowns c JOIN cloud l
                  ON l.x >= c.xmin AND l.x < c.xmax
                 AND l.y >= c.ymin AND l.y < c.ymax
                GROUP BY c.crown_id
            )
            SELECT m.stem_tag, m.crown_id, m.method,
                   tc.n_tiles, zl.n_pts, zl.z_mean
            FROM matched m
            LEFT JOIN tile_counts tc ON tc.crown_id = m.crown_id
            LEFT JOIN zl ON zl.crown_id = m.crown_id
        """,
        "containing_else_nearest": W(stems, crowns) + f"""
            , probes AS (SELECT * FROM stems WHERE stem_key % 20 = 0),
            contained AS (
                SELECT stem_tag, crown_id, 'contained' AS method FROM (
                    SELECT s.stem_tag, c.crown_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY s.stem_tag ORDER BY c.ca DESC, c.crown_id
                           ) AS rn
                    FROM probes s JOIN crowns c
                      ON s.x >= c.xmin AND s.x < c.xmax
                     AND s.y >= c.ymin AND s.y < c.ymax
                ) WHERE rn = 1
            ),
            residue AS (
                SELECT * FROM probes
                WHERE stem_tag NOT IN (SELECT stem_tag FROM contained)
            ),
            nearest AS (
                SELECT stem_tag, crown_id, 'nearest' AS method FROM (
                    SELECT s.stem_tag, c.crown_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY s.stem_tag ORDER BY {DIST_SQL}, c.crown_id
                           ) AS rn
                    FROM residue s CROSS JOIN crowns c
                ) WHERE rn = 1
            )
            SELECT * FROM contained UNION ALL SELECT * FROM nearest
        """,
        "feature_nn": W(stems, crowns) + """
            , l AS (SELECT stem_tag, stem_key, dbh / 10e0 AS lf1,
                           CAST(crown_position AS DOUBLE) AS lf2 FROM stems),
            r AS (SELECT stem_tag, crown_id, radius AS rf1, score * 5e0 AS rf2
                  FROM crowns WHERE stem_tag IS NOT NULL)
            SELECT stem_key, crown_id, fdist FROM (
                SELECT l.stem_key, r.crown_id,
                       SQRT((l.lf1 - r.rf1) * (l.lf1 - r.rf1)
                            + (l.lf2 - r.rf2) * (l.lf2 - r.rf2)) AS fdist,
                       ROW_NUMBER() OVER (
                           PARTITION BY l.stem_key
                           ORDER BY SQRT((l.lf1 - r.rf1) * (l.lf1 - r.rf1)
                                         + (l.lf2 - r.rf2) * (l.lf2 - r.rf2)),
                                    r.crown_id
                       ) AS rn
                FROM l JOIN r ON l.stem_tag = r.stem_tag
            ) WHERE rn = 1 AND fdist < 1.5e0
        """,
        "pair_distances": W(stems) + """
            SELECT a.dup_tag, a.stem_tag AS stem_tag_a, b.stem_tag AS stem_tag_b,
                   SQRT((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
                       AS distance
            FROM stems a JOIN stems b
              ON a.dup_tag = b.dup_tag AND a.stem_tag < b.stem_tag
        """,
        "random_k_sample": W(stems, crowns) + """
            SELECT stem_tag, crown_id, draw_rank FROM (
                SELECT s.stem_tag, c.crown_id,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY s.stem_tag
                           ORDER BY (s.stem_key * 48271 + c.crown_key * 40503) % 1000003,
                                    c.crown_id
                       ) AS INT) AS draw_rank
                FROM stems s CROSS JOIN crowns c
                WHERE s.stem_key % 200 = 0
            ) WHERE draw_rank <= 5
        """,
        "stratified_split": W(stems, recoded) + """
            SELECT stem_tag, site_id, status_r,
                   CASE WHEN rn <= CEIL(0.7e0 * n) THEN 'train'
                        WHEN rn <= CEIL(0.85e0 * n) THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT stem_tag, site_id, status_r,
                       ROW_NUMBER() OVER (
                           PARTITION BY site_id, status_r
                           ORDER BY (stem_key * 2654435761) % 1000000007, stem_key
                       ) AS rn,
                       COUNT(*) OVER (PARTITION BY site_id, status_r) AS n
                FROM stems_r
            )
        """,
        "percentile_stretch": W(lidar) + """
            , l AS (SELECT * FROM lidar WHERE point_id % 20 = 0),
            kb AS (
                SELECT GREATEST(1, CAST(CEIL(0.02e0 * COUNT(*)) AS BIGINT)) AS klo,
                       GREATEST(1, CAST(CEIL(0.98e0 * COUNT(*)) AS BIGINT)) AS khi
                FROM l
            ),
            zr AS (SELECT z, ROW_NUMBER() OVER (ORDER BY z) AS rn FROM l),
            rr AS (SELECT red, ROW_NUMBER() OVER (ORDER BY red) AS rn FROM l),
            zb AS (SELECT
                     (SELECT z FROM zr, kb WHERE rn = klo) AS zlo,
                     (SELECT z FROM zr, kb WHERE rn = khi) AS zhi,
                     (SELECT red FROM rr, kb WHERE rn = klo) AS rlo,
                     (SELECT red FROM rr, kb WHERE rn = khi) AS rhi)
            SELECT point_id,
                   CASE WHEN zhi = zlo THEN 0e0 ELSE
                       LEAST(GREATEST((z - zlo) / (zhi - zlo), 0e0), 1e0) END AS z_stretch,
                   CASE WHEN rhi = rlo THEN 0e0 ELSE
                       LEAST(GREATEST((red - rlo) / (CAST(rhi AS DOUBLE) - rlo), 0e0), 1e0) END
                       AS red_stretch
            FROM l, zb
        """,
        "group_first": W(crowns) + """
            SELECT stem_tag, crown_id, score FROM (
                SELECT stem_tag, crown_id, score,
                       ROW_NUMBER() OVER (
                           PARTITION BY stem_tag ORDER BY score DESC, crown_id
                       ) AS rn
                FROM crowns WHERE stem_tag IS NOT NULL
            ) WHERE rn = 1
        """,
        "distinct_count": W(stems, recoded) + """
            SELECT site_id, COUNT(DISTINCT status_r) AS n_distinct
            FROM stems_r GROUP BY site_id
        """,
        "drop_smallest": W(stems) + """
            SELECT site_id, stem_tag, dbh FROM (
                SELECT site_id, stem_tag, dbh,
                       PERCENT_RANK() OVER (PARTITION BY site_id ORDER BY dbh) AS pr
                FROM stems
            ) WHERE pr >= 0.1e0
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "topk_orders": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey
                       ) AS INT) AS rk
                FROM orders
            ) WHERE rk <= 3
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
                   MIN(doc_id) AS keeper_id
            FROM documents GROUP BY md5(text)
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "text_stats": r"""
            SELECT doc_id, n_chars, n_words, n_punct, avg_word_len,
                   CASE WHEN n_words < 5 THEN 0e0
                        WHEN avg_word_len < 2e0 THEN 0.25e0
                        WHEN avg_word_len > 12e0 THEN 0.25e0
                        ELSE 1e0 END AS quality
            FROM (
                SELECT doc_id,
                       LENGTH(text) AS n_chars,
                       LEN(string_split_regex(trim(text), '\s+')) AS n_words,
                       LENGTH(text) - LENGTH(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct,
                       CAST(LENGTH(text) - LEN(string_split_regex(trim(text), '\s+')) + 1 AS DOUBLE)
                           / CAST(LEN(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS avg_word_len
                FROM documents
            )
        """,
        "token_count": r"""
            SELECT doc_id,
                   LEN(string_split_regex(trim(text), '\s+')) AS ws_tokens,
                   CAST(CEIL(LENGTH(text) / 4e0) AS BIGINT) AS bpe_tokens_est
            FROM documents
        """,
        "lang_id": _lang_id_oracle(),
        "jaccard_pairs": r"""
            WITH docs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            toks0 AS (
                SELECT DISTINCT doc_id, t.tok AS token
                FROM docs, UNNEST(string_split_regex(lower(text), '\s+')) AS t(tok)
                WHERE t.tok <> ''
            ),
            toks AS (
                SELECT * FROM toks0 WHERE token NOT IN (
                    SELECT token FROM toks0 GROUP BY token
                    HAVING COUNT(*) > (85 * (SELECT COUNT(*) FROM docs)) // 100
                )
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   i / (sa.sz + sb.sz - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE i / (sa.sz + sb.sz - i) >= 0.5e0
        """,
        "ngram_jaccard_pairs": r"""
            WITH docs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            sh0 AS (
                -- per-row lateral via the scalar generate_series (returns a
                -- LIST) + unnest — shingles the FULL text of each document
                -- (ADVICE r3: the old fixed 4096-element series would
                -- silently truncate shingling of any longer future document)
                SELECT DISTINCT doc_id, substr(lt, i, 4) AS shingle
                FROM (
                    SELECT doc_id, lower(text) AS lt,
                           -- bound by the LOWERCASED length: for codepoints
                           -- whose lowercase expands (e.g. U+0130),
                           -- LENGTH(lt) != LENGTH(text) and the engine
                           -- shingles lower(text)
                           unnest(generate_series(1, LENGTH(lower(text)) - 3)) AS i
                    FROM docs
                )
            ),
            sh AS (
                SELECT * FROM sh0 WHERE shingle NOT IN (
                    SELECT shingle FROM sh0 GROUP BY shingle
                    HAVING COUNT(*) > (85 * (SELECT COUNT(*) FROM docs)) // 100
                )
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   i / (sa.sz + sb.sz - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE i / (sa.sz + sb.sz - i) >= 0.35e0
        """,
        "ann_cosine_topk": """
            SELECT probe_id, neighbor_id, sim, rank FROM (
                SELECT probe_id, neighbor_id, sim,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY probe_id ORDER BY sim DESC, neighbor_id
                       ) AS INT) AS rank
                FROM (
                    SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
                           list_cosine_similarity(
                               CAST(p.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])) AS sim
                    FROM embeddings p JOIN embeddings e ON e.vec_id <> p.vec_id
                    WHERE p.vec_id % 50 = 0
                )
            ) WHERE rank <= 10
        """,
        "docs_decode_stems": W(stems) + """
            SELECT stem_tag, x, y, dbh, year, status, crown_position, fad, site_id
            FROM stems
        """,
        "polygonize": W(stems) + f"""
            , rects AS ({RECTS_SQL.replace('FROM stems WHERE', 'FROM stems WHERE')}),
            m AS (
                SELECT mask_id, ah * aw AS apx, bh * bw AS bpx,
                       LEAST(ar0 + ah, br0 + bh) - GREATEST(ar0, br0) AS rov,
                       LEAST(ac0 + aw, bc0 + bw) - GREATEST(ac0, bc0) AS cov
                FROM rects
            )
            SELECT mask_id,
                   CAST(CASE WHEN rov >= 0 AND cov >= 0 AND (rov > 0 OR cov > 0)
                             THEN 1 ELSE 2 END AS BIGINT) AS n_polys,
                   CAST(apx + bpx - GREATEST(rov, 0) * GREATEST(cov, 0) AS BIGINT)
                       AS total_px,
                   CAST(CASE WHEN rov >= 0 AND cov >= 0 AND (rov > 0 OR cov > 0)
                             THEN apx + bpx - GREATEST(rov, 0) * GREATEST(cov, 0)
                             ELSE GREATEST(apx, bpx) END AS DOUBLE) AS max_area
            FROM m
        """,
        "geometric_union": _geometric_union_oracle(),
        "band_ops": """
            SELECT vec_id,
                   CAST(LEN(p) AS INT) AS n_bands,
                   p[1] AS b1, p[7] AS b7, p[10] AS b10
            FROM (
                SELECT vec_id,
                       list_concat(
                           list_concat(e[1:2], e[4:8]),
                           [-1.0, -1.0, -1.0]
                       ) AS p
                FROM (SELECT vec_id, CAST(embedding AS DOUBLE[])[1:8] AS e
                      FROM embeddings)
            )
        """,
        "explode_multi": W(crowns) + """
            , b AS (
                SELECT crown_id,
                       CAST(FLOOR(xmin) AS BIGINT) AS x0, CAST(FLOOR(ymin) AS BIGINT) AS y0,
                       CAST(FLOOR(xmax) AS BIGINT) + 1 AS x1, CAST(FLOOR(ymax) AS BIGINT) + 1 AS y1
                FROM crowns WHERE crown_key % 40 = 1
            )
            SELECT crown_id, CAST(0 AS INT) AS part_idx,
                   CAST((x1 - x0) * (y1 - y0) AS DOUBLE) AS part_area FROM b
            UNION ALL
            SELECT crown_id, CAST(1 AS INT) AS part_idx, CAST(35 AS DOUBLE) AS part_area FROM b
        """,
        "window_translate": W(crowns, tiles) + """
            SELECT c.crown_id, t.tile_id,
                   c.cx - t.txmin AS wx, t.tymax - c.cy AS wy
            FROM crowns c JOIN tiles t
              ON c.xmin < t.txmax AND c.xmax > t.txmin
             AND c.ymin < t.tymax AND c.ymax > t.tymin
            WHERE c.crown_key % 25 = 1
        """,
        "zonal_raster": _zonal_raster_oracle(),
        "nms_greedy": _nms_oracle(),
        "weighted_nms": _weighted_nms_oracle(),
        "minhash_lsh_pairs": _minhash_oracle(),
        "simhash_pairs": _simhash_oracle(),
        "rp_lsh_pairs": _rp_lsh_oracle(),
        "ann_lsh_topk": _ann_lsh_oracle(),
        "ann_ivf_topk": _ann_ivf_oracle(),
        # constant-media oracles regenerate media.resolve_* closed forms
        # (key = doc_id % 997; see _const_media_refs)
        "image_features": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   [CAST((k * 31) % 256 AS DOUBLE),
                    CAST((k * 31 + 7) % 256 AS DOUBLE),
                    CAST((k * 31 + 14) % 256 AS DOUBLE),
                    0.0, 0.0, 0.0] AS feat,
                   CAST(256 AS BIGINT) AS n_px
            FROM (SELECT doc_id, doc_id % 997 AS k FROM documents
                  WHERE doc_id % 4 = 0)
        """,
        "audio_features": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(r.range AS INT) AS frame_idx,
                   sqrt(a * a) AS rms, 0.0 AS zcr
            FROM (SELECT doc_id,
                         CAST(CAST(((doc_id % 997) * 13) % 999 + 1 AS DOUBLE)
                              / 1000.0 AS REAL)::DOUBLE AS a
                  FROM documents WHERE doc_id % 4 = 0)
            CROSS JOIN range(0, 30) r
        """,
        "frame_features": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(r.range AS INT) AS frame_idx,
                   [CAST((k * 31 + r.range * 8 * 11) % 256 AS DOUBLE),
                    CAST((k * 31 + r.range * 8 * 11 + 7) % 256 AS DOUBLE),
                    CAST((k * 31 + r.range * 8 * 11 + 14) % 256 AS DOUBLE)]
                       AS feat
            FROM (SELECT doc_id, doc_id % 997 AS k FROM documents
                  WHERE doc_id % 4 = 0)
            CROSS JOIN range(0, 4) r
        """,
        # transitive closure of the (shared-dialect) jaccard pair graph:
        # recursive reachability, then MIN over reached labels per node
        "dup_components": r"""
            WITH RECURSIVE docs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            toks0 AS (
                SELECT DISTINCT doc_id, t.tok AS token
                FROM docs, UNNEST(string_split_regex(lower(text), '\s+')) AS t(tok)
                WHERE t.tok <> ''
            ),
            toks AS (
                SELECT * FROM toks0 WHERE token NOT IN (
                    SELECT token FROM toks0 GROUP BY token
                    HAVING COUNT(*) > (85 * (SELECT COUNT(*) FROM docs)) // 100
                )
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE i / (sa.sz + sb.sz - i) >= 0.5e0
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION ALL
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            reach(node, comp) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
            )
            SELECT node AS doc_id, MIN(comp) AS component
            FROM reach GROUP BY node
        """,
    }


def _geometric_union_oracle() -> str:
    """Union pixel count by per-box pixel enumeration + DISTINCT; component
    count by recursive min-label propagation over the 4-adjacency box graph
    (equivalent to the engine's mask connectivity: boxes are 4-connected in
    the union mask iff their integer ranges overlap in one axis and
    touch-or-overlap in the other)."""
    return f"""
WITH RECURSIVE crowns AS ({V['crowns']}),
boxes AS (
    SELECT CAST(CAST(FLOOR(cx / 50) AS BIGINT) AS VARCHAR) || '_'
               || CAST(CAST(FLOOR(cy / 50) AS BIGINT) AS VARCHAR) AS gid,
           crown_id AS bid,
           CAST(FLOOR(xmin) AS BIGINT) AS x0, CAST(FLOOR(ymin) AS BIGINT) AS y0,
           CAST(FLOOR(xmax) AS BIGINT) + 1 AS x1, CAST(FLOOR(ymax) AS BIGINT) + 1 AS y1
    FROM crowns WHERE crown_key % 20 = 1
),
bxx AS (SELECT gid, bid, UNNEST(generate_series(x0, x1 - 1)) AS cx FROM boxes),
bxy AS (SELECT gid, bid, UNNEST(generate_series(y0, y1 - 1)) AS cy FROM boxes),
cov AS (SELECT DISTINCT a.gid, a.cx, b.cy
        FROM bxx a JOIN bxy b ON a.gid = b.gid AND a.bid = b.bid),
upx AS (SELECT gid, COUNT(*) AS union_px FROM cov GROUP BY gid),
edges AS (
    SELECT a.gid, a.bid AS ea, b.bid AS eb
    FROM boxes a JOIN boxes b ON a.gid = b.gid AND a.bid <> b.bid
    WHERE LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0) >= 0
      AND LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) >= 0
      AND (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0) > 0
           OR LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) > 0)
),
lbl(gid, bid, l) AS (
    SELECT gid, bid, bid FROM boxes
    UNION
    SELECT e.gid, e.eb, lbl.l FROM lbl JOIN edges e
      ON e.gid = lbl.gid AND e.ea = lbl.bid
),
minl AS (SELECT gid, bid, MIN(l) AS ml FROM lbl GROUP BY gid, bid),
np AS (SELECT gid, CAST(COUNT(DISTINCT ml) AS BIGINT) AS n_parts FROM minl GROUP BY gid)
SELECT np.gid, np.n_parts, CAST(upx.union_px AS BIGINT) AS union_px
FROM np JOIN upx ON np.gid = upx.gid
"""


def _zonal_raster_oracle() -> str:
    """Closed-form zonal stats: snapped boxes x constant-per-band tiles.

    Pixel-count formulas replicate the rasterize kernel's half-open
    center-in-box test; every operand is a quarter-integer double <= 1100, so
    FLOOR/CEIL/+- are exact IEEE in both engines (no boundary drift)."""
    ncols = (
        "GREATEST(0, LEAST(CAST(CEIL(bxmax - txmin - 0.5e0) AS BIGINT), 100)"
        " - GREATEST(CAST(CEIL(bxmin - txmin - 0.5e0) AS BIGINT), 0))"
    )
    nrows = (
        "GREATEST(0, LEAST(CAST(CEIL(tymax - bymin - 0.5e0) AS BIGINT), 100)"
        " - GREATEST(CAST(CEIL(tymax - bymax - 0.5e0) AS BIGINT), 0))"
    )

    def mean(band: int) -> str:
        v = f"CAST((tile_key * 31 + {band * 7}) % 1000 AS DOUBLE)"
        return f"SUM(CAST(n_px AS DOUBLE) * {v}) / CAST(SUM(n_px) AS DOUBLE)"

    return synth.oracle_with(("crowns", V["crowns"])) + f"""
        , snapped AS (
            SELECT crown_id,
                   FLOOR(xmin) + 0.25e0 AS bxmin, FLOOR(ymin) + 0.25e0 AS bymin,
                   FLOOR(xmax) + 0.25e0 AS bxmax, FLOOR(ymax) + 0.25e0 AS bymax
            FROM crowns
        ),
        ztiles AS (
            SELECT i AS tile_key,
                   (i % 10) * 100e0 AS txmin,
                   CAST(FLOOR(i / 10) AS BIGINT) * 100e0 AS tymin,
                   (i % 10) * 100e0 + 100e0 AS txmax,
                   CAST(FLOOR(i / 10) AS BIGINT) * 100e0 + 100e0 AS tymax
            FROM range(100) t(i)
        ),
        px AS (
            SELECT s.crown_id, t.tile_key, {ncols} * {nrows} AS n_px
            FROM snapped s JOIN ztiles t
              ON s.bxmin < t.txmax AND s.bxmax > t.txmin
             AND s.bymin < t.tymax AND s.bymax > t.tymin
        )
        SELECT crown_id, CAST(SUM(n_px) AS BIGINT) AS n_px,
               {mean(0)} AS band0_mean,
               {mean(7)} AS band7_mean
        FROM px GROUP BY crown_id HAVING SUM(n_px) > 0
    """


def _nms_oracle() -> str:
    from geotreehealth_spark.operators.nms import greedy_nms_box_oracle_sql

    polys = synth.oracle_with(("crowns", V["crowns"])) + NMS_SUBSET_SQL
    return greedy_nms_box_oracle_sql(
        polys, id_col="crown_id", score_col="score", threshold=0.3, rounds=40,
    )


def _weighted_nms_oracle() -> str:
    from geotreehealth_spark.operators.nms import weighted_nms_box_oracle_sql

    polys = (
        synth.oracle_with(("stems", V["stems"]), ("crowns", V["crowns"]))
        + WNMS_SUBSET_SQL
    )
    return weighted_nms_box_oracle_sql(
        polys, id_col="crown_id", priority_col="priority", threshold=0.5, rounds=40,
    )


def _minhash_oracle() -> str:
    from geotreehealth_spark.text.dedup import minhash_lsh_pairs_oracle_sql

    return minhash_lsh_pairs_oracle_sql(n_perm=64, bands=16)


def _simhash_oracle() -> str:
    from geotreehealth_spark.text.dedup import simhash_pairs_oracle_sql

    return simhash_pairs_oracle_sql(max_hamming=3)


def _rp_lsh_oracle() -> str:
    from geotreehealth_spark.text.similarity import rp_lsh_pairs_oracle_sql

    return rp_lsh_pairs_oracle_sql(dim=64, n_tables=8, n_planes=6, min_sim=0.25)


def _ann_lsh_oracle() -> str:
    from geotreehealth_spark.text.similarity import ann_lsh_topk_oracle_sql

    return ann_lsh_topk_oracle_sql(probe_pred="vec_id % 50 = 0", k=10, dim=64, n_tables=8, n_planes=6)


def _ann_ivf_oracle() -> str:
    from geotreehealth_spark.text.similarity import ann_ivf_topk_oracle_sql

    return ann_ivf_topk_oracle_sql(probe_pred="vec_id % 50 = 0", k=10, dim=64,
                                   n_lists=16, nprobe=4)


def _lang_id_oracle() -> str:
    from geotreehealth_spark.text.analysis import LANG_MARKERS

    def cnt(word: str) -> str:
        pad = "' ' || lower(text) || ' '"
        return (
            f"CAST(FLOOR((LENGTH({pad}) - LENGTH(REPLACE({pad}, ' {word} ', '')))"
            f" / {len(word) + 2}e0) AS INT)"
        )

    langs = sorted(LANG_MARKERS)
    score_cols = ",\n".join(
        "(" + " + ".join(cnt(w) for w in LANG_MARKERS[lang]) + f") AS s_{lang}"
        for lang in langs
    )
    greatest = "GREATEST(" + ", ".join(f"s_{la}" for la in langs) + ")"
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1:])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""
        WITH s AS (SELECT doc_id, {score_cols} FROM documents)
        SELECT doc_id, {greatest} AS lang_score, {case_sql} AS lang_pred FROM s
    """
