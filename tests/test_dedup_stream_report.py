"""Streaming near-dup gate report table (streaming/dedup.
near_dedup_doc_stream): the batch_id-partitioned report exists from
the first batch on, typed and empty when no batch found a duplicate."""

from __future__ import annotations

from solr_ocr_processor_spark.streaming.dedup import near_dedup_doc_stream

SCHEMA = "doc_id long, text string"


def test_report_is_typed_and_empty_without_duplicates(spark, tmp_path):
    store, out, src = (str(tmp_path / d) for d in ("store", "out", "src"))
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "completely different words about other topics entirely"),
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        near_dedup_doc_stream(stream, store, out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    report = spark.read.parquet(out)
    assert report.count() == 0
    assert dict(report.dtypes) == {
        "doc_id": "bigint", "dup_of": "bigint", "jaccard": "double", "batch_id": "int",
    }
    assert sorted(r["doc_id"] for r in spark.read.parquet(store).collect()) == [0, 1]
