"""Temporal pruning tests ported from the reference's semantic spec
(crates/azof/src/metadata.rs:164-623). These are pure-Python — no Spark.
"""

from datetime import datetime, timedelta, timezone

import pytest

from bazof_spark.asof import Current, EventTime
from bazof_spark.errors import MetadataError
from bazof_spark.metadata import Snapshot


def som(year: int, month: int) -> datetime:
    """start_of_month (metadata.rs:620-622)."""
    return datetime(year, month, 1, tzinfo=timezone.utc)


NESTED_JSON = """{
  "schema": {"columns":[]},
  "segments": [
    {
      "id": "10",
      "start": "2024-01-01T00:00:00.000Z",
      "end": "2024-12-31T23:59:59.999Z",
      "file": "base10.parquet",
      "segments": [
        {
          "id": "11",
          "start": "2024-01-01T00:00:00.000Z",
          "end": "2024-06-30T23:59:59.999Z",
          "delta": [
            {"file": "delta_111.parquet", "start": "2024-01-01T00:00:00.000Z", "end": "2024-03-31T23:59:59.999Z"},
            {"file": "delta_112.parquet", "start": "2024-04-01T00:00:00.000Z", "end": "2024-06-30T23:59:59.999Z"}
          ]
        },
        {
          "id": "12",
          "start": "2024-07-01T00:00:00.000Z",
          "end": "2024-12-31T23:59:59.999Z",
          "file": "base12.parquet",
          "delta": [
            {"file": "delta_121.parquet", "start": "2024-07-01T00:00:00.000Z", "end": "2024-08-31T23:59:59.999Z"},
            {"file": "delta_122.parquet", "start": "2024-09-01T00:00:00.000Z", "end": "2024-10-31T23:59:59.999Z"},
            {"file": "delta_123.parquet", "start": "2024-11-01T00:00:00.000Z", "end": "2024-12-31T23:59:59.999Z"}
          ]
        }
      ]
    },
    {
      "id": "20",
      "start": "2025-01-01T00:00:00.000Z",
      "file": "base20.parquet",
      "delta": [
        {"file": "delta_22.parquet", "start": "2025-01-01T00:00:00.000Z", "end": "2025-01-31T23:59:59.999Z"},
        {"file": "delta_23.parquet", "start": "2025-02-01T00:00:00.000Z", "end": "2025-02-11T00:00:00.000Z"}
      ]
    }
  ]
}"""


def test_deserialization():
    """metadata.rs:170-272 (test_deserialization)."""
    snapshot = Snapshot.deserialize(NESTED_JSON)
    assert len(snapshot.segments) == 2
    assert snapshot.segments[0].id == "10"
    assert len(snapshot.segments[0].segments) == 2

    segment_11 = snapshot.segments[0].segments[0]
    assert segment_11.id == "11"
    assert segment_11.start == som(2024, 1)
    assert segment_11.file is None
    assert segment_11.end == som(2024, 7) - timedelta(milliseconds=1)

    deltas = segment_11.delta
    assert len(deltas) == 2
    assert deltas[0].file == "delta_111.parquet"
    assert deltas[1].end == som(2024, 7) - timedelta(milliseconds=1)

    assert snapshot.segments[1].end is None


def test_serialization_round_trip():
    """metadata.rs:274-341 (test_serialization)."""
    snapshot = Snapshot.deserialize(NESTED_JSON)
    again = Snapshot.deserialize(snapshot.serialize())
    assert again == snapshot


def test_reads_base_file_of_current_segment():
    """metadata.rs:343-367."""
    snapshot = Snapshot.deserialize(
        """{
  "schema": {"columns":[]},
  "segments": [
    {"id": "10", "start": "2024-01-01T00:00:00.000Z", "file": "base.parquet"}
  ]
}"""
    )
    assert snapshot.get_data_files(Current) == ["base.parquet"]
    assert snapshot.get_data_files(EventTime(som(2023, 12))) == []


def test_reads_base_file_of_historical_segment():
    """metadata.rs:369-397 — closed segments are invisible to Current;
    bounds inclusive."""
    snapshot = Snapshot.deserialize(
        """{
  "schema": {"columns":[]},
  "segments": [
    {"id": "10", "start": "2024-01-01T00:00:00.000Z",
     "end": "2024-03-01T00:00:00.000Z", "file": "base.parquet"}
  ]
}"""
    )
    assert snapshot.get_data_files(EventTime(som(2024, 1))) == ["base.parquet"]
    assert snapshot.get_data_files(EventTime(som(2024, 2))) == ["base.parquet"]
    assert snapshot.get_data_files(Current) == []
    assert snapshot.get_data_files(EventTime(som(2023, 2))) == []
    assert snapshot.get_data_files(EventTime(som(2024, 4))) == []


def test_reads_base_file_of_nested_segments_in_historical_segments():
    """metadata.rs:399-463."""
    snapshot = Snapshot.deserialize(
        """{
  "schema": {"columns":[]},
  "segments": [
    {
      "id": "10", "start": "2010-01-01T00:00:00.000Z",
      "end": "2020-01-01T00:00:00.000Z", "file": "base10.parquet",
      "segments": [
        {"id": "11", "start": "2013-01-01T00:00:00.000Z",
         "end": "2016-01-01T00:00:00.000Z", "file": "base11.parquet"},
        {"id": "12", "start": "2018-01-01T00:00:00.000Z",
         "end": "2019-01-01T00:00:00.000Z", "file": "base12.parquet",
         "segments": [
           {"id": "121", "start": "2018-03-01T00:00:00.000Z",
            "end": "2018-06-01T00:00:00.000Z", "file": "base121.parquet"},
           {"id": "122", "start": "2018-07-01T00:00:00.000Z",
            "end": "2019-01-01T00:00:00.000Z", "file": "base112.parquet"}
         ]}
      ]
    }
  ]
}"""
    )
    assert snapshot.get_data_files(EventTime(som(2018, 4))) == [
        "base121.parquet",
        "base12.parquet",
        "base10.parquet",
    ]
    assert snapshot.get_data_files(EventTime(som(2022, 4))) == []
    assert snapshot.get_data_files(EventTime(som(2011, 4))) == ["base10.parquet"]
    assert snapshot.get_data_files(EventTime(som(2017, 4))) == ["base10.parquet"]
    assert snapshot.get_data_files(Current) == []


def test_reads_base_file_of_nested_segments_in_current_segments():
    """metadata.rs:465-539."""
    snapshot = Snapshot.deserialize(
        """{
  "schema": {"columns":[]},
  "segments": [
    {
      "id": "10", "start": "2010-01-01T00:00:00.000Z", "file": "base10.parquet",
      "segments": [
        {"id": "11", "start": "2013-01-01T00:00:00.000Z",
         "end": "2016-01-01T00:00:00.000Z", "file": "base11.parquet"},
        {"id": "12", "start": "2018-01-01T00:00:00.000Z", "file": "base12.parquet",
         "segments": [
           {"id": "121", "start": "2018-03-01T00:00:00.000Z",
            "end": "2018-06-01T00:00:00.000Z", "file": "base121.parquet"},
           {"id": "122", "start": "2018-07-01T00:00:00.000Z", "file": "base122.parquet"}
         ]}
      ]
    }
  ]
}"""
    )
    assert snapshot.get_data_files(EventTime(som(2018, 4))) == [
        "base121.parquet",
        "base12.parquet",
        "base10.parquet",
    ]
    assert snapshot.get_data_files(EventTime(som(2022, 4))) == [
        "base122.parquet",
        "base12.parquet",
        "base10.parquet",
    ]
    assert snapshot.get_data_files(EventTime(som(2011, 4))) == ["base10.parquet"]
    assert snapshot.get_data_files(EventTime(som(2017, 4))) == ["base10.parquet"]
    assert snapshot.get_data_files(Current) == [
        "base122.parquet",
        "base12.parquet",
        "base10.parquet",
    ]


def test_reads_delta_files_of_current_segment():
    """metadata.rs:541-618 — children first, then eligible deltas sorted
    by start DESC (delta `end` ignored for eligibility), base last."""
    snapshot = Snapshot.deserialize(
        """{
  "schema": {"columns":[]},
  "segments": [
    {
      "id": "10", "start": "2024-01-01T00:00:00.000Z", "file": "base10.parquet",
      "delta": [
        {"file": "delta_100.parquet", "start": "2024-02-01T00:00:00.000Z", "end": "2024-06-01T00:00:00.0Z"},
        {"file": "delta_101.parquet", "start": "2024-10-01T00:00:00.000Z", "end": "2024-11-30T23:59:59.999Z"},
        {"file": "delta_102.parquet", "start": "2024-07-01T00:00:00.000Z", "end": "2024-09-30T23:59:59.999Z"}
      ],
      "segments": [
        {"id": "211", "start": "2024-11-01T00:00:00.000Z", "file": "base211.parquet"}
      ]
    }
  ]
}"""
    )
    assert snapshot.get_data_files(Current) == [
        "base211.parquet",
        "delta_101.parquet",
        "delta_102.parquet",
        "delta_100.parquet",
        "base10.parquet",
    ]
    assert snapshot.get_data_files(EventTime(som(2024, 8))) == [
        "delta_102.parquet",
        "delta_100.parquet",
        "base10.parquet",
    ]
    assert snapshot.get_data_files(EventTime(som(2024, 7))) == [
        "delta_102.parquet",
        "delta_100.parquet",
        "base10.parquet",
    ]
    assert snapshot.get_data_files(EventTime(som(2024, 6))) == [
        "delta_100.parquet",
        "base10.parquet",
    ]


def test_ranked_data_files():
    snapshot = Snapshot.deserialize(NESTED_JSON)
    ranked = snapshot.ranked_data_files(Current)
    # deltas (start DESC) shadow the base: base file ranks last
    assert ranked == [("delta_23.parquet", 0), ("delta_22.parquet", 1),
                      ("base20.parquet", 2)]


def test_bad_metadata_raises():
    with pytest.raises(MetadataError):
        Snapshot.deserialize("not json")
    with pytest.raises(MetadataError):
        Snapshot.deserialize('{"schema": {"columns": []}, "segments": [{"id": "1"}]}')
    with pytest.raises(MetadataError):
        Snapshot.deserialize(
            '{"schema": {"columns": [{"name": "v", "data_type": "Decimal128"}]},'
            ' "segments": []}'
        )


def test_reference_snapshots_parse(reference_data):
    """Our reader parses the reference's own shipped snapshots."""
    for name in ("table0", "table1", "table2", "financials"):
        with open(f"{reference_data}/{name}/s1.json") as f:
            snapshot = Snapshot.deserialize(f.read())
        assert snapshot.get_data_files(Current) or name  # financials: 171 files

    with open(f"{reference_data}/financials/s1.json") as f:
        fin = Snapshot.deserialize(f.read())
    # 2021 is the only open-ended year; Current sees its quarters + base
    current = fin.get_data_files(Current)
    assert all("2021" in f for f in current)
    asof_2019 = fin.get_data_files(EventTime(datetime(2019, 1, 17, tzinfo=timezone.utc)))
    assert asof_2019[-1] == "year_2019_base.parquet"


def test_snapshot_parse_cache_is_content_addressed(tmp_path):
    """Repeated loads of the same bytes share one parsed Snapshot;
    overwriting the SAME path+version with different content (the
    overwrite-mode re-create case) returns the new parse — the cache
    key is the content hash, never the path."""
    import json

    from bazof_spark.table import Table

    doc = {
        "schema": {"columns": [{"name": "v", "data_type": "String"}]},
        "segments": [
            {"id": "s1", "start": "2024-01-01T00:00:00.000Z", "file": "b.parquet"}
        ],
    }
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "version.txt").write_text("1")
    (tmp_path / "t" / "s1.json").write_text(json.dumps(doc))
    t = Table(path=str(tmp_path / "t"), name="t")
    first = t.get_current_snapshot()
    assert t.get_current_snapshot() is first  # cache hit shares the object
    doc["segments"][0]["file"] = "c.parquet"
    (tmp_path / "t" / "s1.json").write_text(json.dumps(doc))
    again = t.get_current_snapshot()
    assert again is not first
    assert again.segments[0].file == "c.parquet"


def test_file_size_extension_roundtrip():
    """Optional per-file ``size`` (bytes, recorded at commit time)
    survives JSON round-trip on both Delta and Segment, is exposed by
    Snapshot.file_sizes(), and stays absent (no key) when unset so
    reference-authored snapshots are byte-compatible."""
    from bazof_spark.metadata import Delta, Segment, Snapshot

    d = Delta.from_json(
        {
            "file": "f1.parquet",
            "start": "2024-01-01T00:00:00.000Z",
            "end": "2024-01-02T00:00:00.000Z",
            "size": 12345,
        }
    )
    assert d.size == 12345 and d.to_json()["size"] == 12345
    d2 = Delta.from_json(
        {
            "file": "f2.parquet",
            "start": "2024-01-01T00:00:00.000Z",
            "end": "2024-01-02T00:00:00.000Z",
        }
    )
    assert d2.size is None and "size" not in d2.to_json()
    # malformed sizes are ignored, never fatal
    d3 = Delta.from_json(
        {
            "file": "f3.parquet",
            "start": "2024-01-01T00:00:00.000Z",
            "end": "2024-01-02T00:00:00.000Z",
            "size": "big",
        }
    )
    assert d3.size is None
    seg = Segment.from_json(
        {
            "id": "s1",
            "start": "2024-01-01T00:00:00.000Z",
            "file": "base.parquet",
            "size": 777,
            "delta": [d.to_json(), d2.to_json()],
        }
    )
    assert seg.size == 777 and seg.to_json()["size"] == 777
    from bazof_spark.schema import TableSchema

    snap = Snapshot(segments=(seg,), schema=TableSchema())
    assert snap.file_sizes() == {"base.parquet": 777, "f1.parquet": 12345}


def test_boolean_size_rejected_as_malformed():
    """JSON booleans must not pass the size check (bool is an int
    subclass): ``"size": true`` is malformed metadata and reads back
    as *no* recorded size — not as size=1 round-tripping out as 1."""
    from bazof_spark.metadata import Delta, Segment

    d = Delta.from_json(
        {
            "file": "f1.parquet",
            "start": "2024-01-01T00:00:00.000Z",
            "end": "2024-01-02T00:00:00.000Z",
            "size": True,
        }
    )
    assert d.size is None and "size" not in d.to_json()
    seg = Segment.from_json(
        {
            "id": "s1",
            "start": "2024-01-01T00:00:00.000Z",
            "file": "base.parquet",
            "size": True,
            "delta": [],
        }
    )
    assert seg.size is None and "size" not in seg.to_json()
