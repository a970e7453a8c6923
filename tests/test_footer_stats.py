"""Footer-based write stats must be bit-faithful to the distributed
aggregate they replace — and must refuse (return None) whenever they
could not be."""

import glob
import json
import math
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import _file_stats, _footer_stats, write_delta
from levi_spark.sources.registry import read_table

SF = "/root/testdata/sf0.001"


def _committed_files(path):
    return [
        p for p in glob.glob(os.path.join(path, "*.parquet"))
        if "_delta_log" not in p
    ]


def _norm(stats):
    # the aggregate path drops None mins; footer never emits None — both
    # normalize to plain dicts for comparison
    return {
        fn: {
            "numRecords": s["numRecords"],
            "minValues": dict(s["minValues"]),
            "maxValues": dict(s["maxValues"]),
            "nullCount": dict(s["nullCount"]),
        }
        for fn, s in stats.items()
    }


def test_footer_matches_aggregate_on_real_tables(spark, tmp_path):
    for name in ("lineitem", "events", "customer", "documents"):
        df = read_table(spark, SF, name)
        path = str(tmp_path / name)
        write_delta(df, path, mode="error")
        files = _committed_files(path)
        data_schema = T.StructType(list(df.schema.fields))
        footer = _footer_stats(files, data_schema)
        assert footer is not None, name
        agg = _file_stats(
            spark.read.schema(data_schema).parquet(*files), data_schema
        )
        assert _norm(footer) == _norm(agg), name


def test_stats_written_into_commit(spark, tmp_path):
    df = read_table(spark, SF, "customer")
    path = str(tmp_path / "t")
    write_delta(df, path, mode="error")
    adds = DeltaLog(spark, path).snapshot().add_actions().collect()
    assert adds and all(r["num_records"] and r["num_records"] > 0 for r in adds)
    st = adds[0]["stats"]
    assert st["minValues"]["c_name"].startswith("Customer#")
    assert st["nullCount"]["c_acctbal"] == 0


def test_nan_forces_fallback(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 0.5)], "k INT, d DOUBLE"
    )
    p = str(tmp_path / "raw")
    df.coalesce(1).write.parquet(p)
    files = glob.glob(p + "/*.parquet")
    assert _footer_stats(files, df.schema) is None
    # and the full writer still commits via the aggregate fallback
    path = str(tmp_path / "t")
    write_delta(df, path, mode="error")
    got = DeltaLog(spark, path).snapshot().to_df().collect()
    assert len(got) == 2 and any(math.isnan(r["d"]) for r in got)


def test_complex_columns_force_fallback(spark, tmp_path):
    df = spark.createDataFrame([(1, {"a": 2})], "k INT, s STRUCT<a: INT>")
    p = str(tmp_path / "raw")
    df.coalesce(1).write.parquet(p)
    assert _footer_stats(glob.glob(p + "/*.parquet"), df.schema) is None


def test_oversized_string_forces_fallback(spark, tmp_path):
    df = spark.createDataFrame([(1, "z" * 5000)], "k INT, s STRING")
    p = str(tmp_path / "raw")
    df.coalesce(1).write.parquet(p)
    assert _footer_stats(glob.glob(p + "/*.parquet"), df.schema) is None


def test_all_null_column_stays_on_footer_path(spark, tmp_path):
    df = spark.createDataFrame([(1, None), (2, None)], "k INT, s STRING")
    p = str(tmp_path / "raw")
    df.coalesce(1).write.parquet(p)
    files = glob.glob(p + "/*.parquet")
    footer = _footer_stats(files, df.schema)
    assert footer is not None
    (s,) = footer.values()
    assert "s" not in s["minValues"] and s["nullCount"]["s"] == 2


def _add_stats(path):
    """{file -> parsed stats dict} from every add action in the log."""
    out = {}
    log_dir = os.path.join(path, "_delta_log")
    for name in sorted(os.listdir(log_dir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                d = json.loads(line)
                if "add" in d and d["add"].get("stats"):
                    out[d["add"]["path"]] = json.loads(d["add"]["stats"])
    return out


def test_timestamp_stats_identical_footer_vs_spark_fallback(spark, tmp_path):
    """Same timestamp data through both stats paths must serialize the
    same min/max strings (explicit-offset UTC ISO), so data skipping
    does not depend on which path a commit happened to take."""
    base = spark.createDataFrame(
        [("2024-03-01 10:30:00",), ("2024-07-15 23:59:59",)], "s STRING"
    ).select(F.to_timestamp("s").alias("ts"), F.lit(1).alias("k"))

    p_footer = str(tmp_path / "footer")
    write_delta(base, p_footer, mode="error")

    # an array column makes _footer_stats bail -> Spark aggregate path
    p_spark = str(tmp_path / "fallback")
    write_delta(
        base.withColumn("arr", F.array(F.lit(1))),
        p_spark,
        mode="error",
    )

    s_footer = _add_stats(p_footer)
    s_spark = _add_stats(p_spark)
    mins_f = {v["minValues"].get("ts") for v in s_footer.values()}
    mins_s = {v["minValues"].get("ts") for v in s_spark.values()}
    maxs_f = {v["maxValues"].get("ts") for v in s_footer.values()}
    maxs_s = {v["maxValues"].get("ts") for v in s_spark.values()}
    assert mins_f == mins_s and maxs_f == maxs_s
    # and the canonical form is timezone-explicit UTC
    for v in mins_f | maxs_f:
        assert v.endswith("+00:00"), v
