"""Source formats: JSONL/CSV transcript ingestion with the fixed
schema."""

import pytest

from mesos_pregel_spark.fixtures import generate_transcripts
from mesos_pregel_spark.functions.edges import build_edges
from mesos_pregel_spark.sources.transcripts import read_transcript_files


def _edge_map(df):
    return {
        (r["src_actor"], r["dst_actor"]): r["weight"] for r in df.collect()
    }


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv"])
def test_transcript_formats_same_edges(spark, tmp_path, fmt):
    """The same conversations through parquet, JSONL and CSV landings
    must extract identical edge tables."""
    t = generate_transcripts(spark, n_conv=60, seed=42).persist()
    expected = _edge_map(build_edges(t))
    path = str(tmp_path / fmt)
    w = t.write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "json":
        w.json(path)
    else:
        w.option("header", True).csv(path)
    got = _edge_map(build_edges(read_transcript_files(spark, path, fmt)))
    assert got == expected
    t.unpersist()


def test_transcript_format_rejects_unknown(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported"):
        read_transcript_files(spark, str(tmp_path), "orc2000")
