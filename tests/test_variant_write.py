"""Writer-side VARIANT support: write_delta stages VariantType columns
(plain and physically shredded), declares the variantType /
variantShredding-preview table features, computes stats through the
distributed fallback (pyarrow cannot parse the VARIANT logical type),
and reads back value-exact."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _vdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        F.parse_json(
            F.concat(
                F.lit('{"a": '), (F.col("id") * 5).cast("string"),
                F.lit(', "s": "v'), (F.col("id") % 3).cast("string"),
                F.lit('"}'),
            )
        ).alias("v"),
    )


def _extract(snap):
    return sorted(
        (r.id, r.a, r.s)
        for r in snap.to_df()
        .select(
            "id",
            F.expr("variant_get(v, '$.a', 'long')").alias("a"),
            F.expr("variant_get(v, '$.s', 'string')").alias("s"),
        )
        .collect()
    )


def test_variant_write_read_and_protocol(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(_vdf(spark, 0, 25), p, mode="error")
    snap = DeltaLog(spark, p).snapshot()
    proto = snap.protocol
    assert proto["minReaderVersion"] == 3
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    assert "variantShredding-preview" not in (proto["readerFeatures"] or [])
    assert _extract(snap) == [(i, 5 * i, f"v{i % 3}") for i in range(25)]
    # every add action carries numRecords (distributed-fallback stats,
    # empty part files included)
    nr = [r[0] for r in snap.add_actions().select("num_records").collect()]
    assert all(n is not None for n in nr) and sum(nr) == 25
    # appends keep working and the schemaString round-trips 'variant'
    write_delta(_vdf(spark, 25, 30), p, mode="append")
    snap = DeltaLog(spark, p).snapshot()
    assert _extract(snap) == [(i, 5 * i, f"v{i % 3}") for i in range(30)]


def test_variant_shredded_write_declares_feature(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    spark.conf.set("spark.sql.variant.inferShreddingSchema", "true")
    try:
        write_delta(
            _vdf(spark, 0, 20).coalesce(2), p, mode="error",
        )
    finally:
        spark.conf.set("spark.sql.variant.writeShredding.enabled", "false")
        spark.conf.set("spark.sql.variant.inferShreddingSchema", "false")
    snap = DeltaLog(spark, p).snapshot()
    assert "variantShredding-preview" in snap.protocol["readerFeatures"]
    # the files are REALLY shredded, and the reader reassembles them
    assert any(
        b"typed_value" in open(f, "rb").read()
        for f in glob.glob(p + "/*.parquet")
    )
    assert _extract(snap) == [(i, 5 * i, f"v{i % 3}") for i in range(20)]
