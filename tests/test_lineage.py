"""Lineage + resume: completed partitions are skipped, outputs identical."""

import pyspark.sql.functions as F

from geotreehealth_spark import lineage, synth
from tests.conftest import SF_DIR


def test_resume_skips_completed_partitions(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    stems = synth.stems(spark, SF_DIR).withColumn(
        "part_key", (F.col("stem_key") % 4).cast("string")
    )

    calls = []

    def compute(df):
        calls.append(1)
        return df.withColumn("dbh2", F.col("dbh") * 2)

    out1 = lineage.run_stage(spark, "double_dbh", stems, "part_key", compute, base)
    n1 = out1.count()
    assert n1 == stems.count()
    assert len(calls) == 1

    # second run: nothing fresh → compute not called, same output
    out2 = lineage.run_stage(spark, "double_dbh", stems, "part_key", compute, base)
    assert len(calls) == 1
    assert out2.count() == n1

    # lineage table carries per-partition metrics
    lin = lineage.read_lineage(spark, base, "double_dbh")
    rows = {r.part_key: r for r in lin.collect()}
    assert set(rows) == {"0", "1", "2", "3"}
    assert all(r.row_count > 0 and r.wall_ms >= 0 for r in rows.values())

    # a changed input partition is recomputed, others skipped
    mutated = stems.withColumn(
        "dbh", F.when(F.col("part_key") == "2", F.col("dbh") + 1).otherwise(F.col("dbh"))
    )
    out3 = lineage.run_stage(spark, "double_dbh", mutated, "part_key", compute, base)
    assert len(calls) == 2
    assert out3.count() == n1
    # recomputed partition reflects the new input
    a = out3.where(F.col("part_key") == "2").agg(F.sum("dbh2")).collect()[0][0]
    b = mutated.where(F.col("part_key") == "2").agg(F.sum(F.col("dbh") * 2)).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_duplicate_row_count_change_detected(spark, tmp_path):
    """xor-only fingerprints cancel duplicate rows (h^h=0, ADVICE.md round 1);
    the multiset-safe fingerprint must recompute when a row's copy count
    changes by an even number."""
    base = str(tmp_path / "ckpt2")
    one = spark.createDataFrame([("p", 1, 10.0)], "part_key string, k int, v double")
    calls = []

    def compute(df):
        calls.append(1)
        return df.groupBy("part_key").agg(F.count("*").alias("n"))

    out1 = lineage.run_stage(spark, "dup", one, "part_key", compute, base)
    assert out1.collect()[0].n == 1 and len(calls) == 1

    # same row tripled: xor is identical (h^h^h = h) — must STILL recompute
    three = one.unionAll(one).unionAll(one)
    out2 = lineage.run_stage(spark, "dup", three, "part_key", compute, base)
    assert len(calls) == 2
    assert out2.collect()[0].n == 3


def test_input_returning_to_earlier_fingerprint_recomputes(spark, tmp_path):
    """Inputs v = 1, 5, 1: the third run's fingerprint matches the FIRST
    run's lineage row, but the stored output is the second run's, so the
    partition must recompute (staleness is judged on the latest row only)."""
    base = str(tmp_path / "ckpt3")

    def compute(df):
        return df.withColumn("out", F.col("v") * 2)

    outs = []
    for v in (1, 5, 1):
        inp = spark.createDataFrame([("p", v)], "part_key string, v int")
        out = lineage.run_stage(spark, "revert", inp, "part_key", compute, base)
        outs.append(out.collect()[0].out)
    assert outs == [2, 10, 2]
