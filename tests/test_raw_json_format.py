"""S2/S4 raw-format parity: the reference lands PRETTY-PRINTED JSON
(json.dumps(..., indent=4), dags/raw_from_api_to_s3.py:50). The raw reader
must parse that exact format (multiLine), not just Spark-written JSONL."""

from __future__ import annotations

import json
import os

from etl_pipeline_last_fm_spark.operators.flatten import flatten_raw_chart
from etl_pipeline_last_fm_spark.sources.raw_json import read_raw_chart


def test_read_reference_style_pretty_json(spark, tmp_path):
    doc = {
        "tracks": {
            "track": [
                {
                    "name": "Song A",
                    "artist": {"name": "Artist X"},
                    "duration": "215",
                    "listeners": "12345",
                    "@attr": {"rank": "1"},
                },
                {
                    "name": "Song B",
                    "artist": {"name": "Artist Y"},
                    "duration": "0",
                    "listeners": "999",
                    "@attr": {"rank": "2"},
                },
            ],
            "@attr": {"country": "Testland", "page": "1"},
        }
    }
    part = tmp_path / "raw" / "ingest_date=2024-06-01" / "country=Testland"
    os.makedirs(part)
    payload = json.dumps(doc, indent=4)
    assert "\n    " in payload  # really pretty-printed (indent=4)
    (part / "Testland_2024-06-01.json").write_text(payload)

    raw = read_raw_chart(spark, str(tmp_path / "raw"), ingest_date="2024-06-01")
    flat = flatten_raw_chart(raw).orderBy("song_rank").collect()
    assert [(r.song_name, r.artist_name, r.duration_sec, r.song_rank) for r in flat] == [
        ("Song A", "Artist X", 215, 1),
        ("Song B", "Artist Y", 0, 2),
    ]
    assert all(str(r.source_date) == "2024-06-01" and r.country == "Testland" for r in flat)


def test_malformed_numeric_becomes_null(spark, tmp_path):
    """Appendix A.6 deviation: try_cast -> NULL instead of the reference's
    Python int() crash-and-retry."""
    doc = {
        "tracks": {
            "track": [
                {
                    "name": "Bad",
                    "artist": {"name": "Z"},
                    "duration": "FREE",  # malformed
                    "listeners": "n/a",  # malformed
                    "@attr": {"rank": "1"},
                }
            ]
        }
    }
    part = tmp_path / "raw" / "ingest_date=2024-06-02" / "country=X"
    os.makedirs(part)
    (part / "x.json").write_text(json.dumps(doc, indent=4))
    flat = flatten_raw_chart(read_raw_chart(spark, str(tmp_path / "raw"))).collect()
    assert len(flat) == 1
    assert flat[0].duration_sec is None and flat[0].listeners_count is None
    assert flat[0].song_rank == 1
