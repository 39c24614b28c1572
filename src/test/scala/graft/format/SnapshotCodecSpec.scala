package graft.format

import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite

class SnapshotCodecSpec extends AnyFunSuite {

  private def readRef(rel: String): String = graft.ReferenceData.text(rel)

  test("parses reference table2 snapshot: schema + segment + delta") {
    val snap = SnapshotCodec.parse(readRef("table2/s1.json"))
    assert(snap.schema.columns.map(_.name) ==
      Seq("value1", "value2", "is_active", "created"))
    assert(snap.schema.columns.map(_.dataType) == Seq(
      ColumnType.AzString, ColumnType.AzInt, ColumnType.AzBoolean, ColumnType.AzDateTime))
    assert(snap.schema.columns.forall(!_.nullable))
    val seg = snap.segments.head
    assert(seg.id == "10")
    assert(seg.start == Instant.parse("2024-01-01T00:00:00Z"))
    assert(seg.end.isEmpty)
    assert(seg.file.contains("base.parquet"))
    val d = seg.delta.head
    assert(d.file == "delta1.parquet")
    assert(d.start == Instant.parse("2024-02-01T00:00:00Z"))
    assert(d.end == Instant.parse("2024-04-01T00:00:00Z"))
  }

  test("parses reference financials snapshot: deep tree") {
    val snap = SnapshotCodec.parse(readRef("financials/s1.json"))
    assert(snap.schema.columns.map(_.name) ==
      Seq("industry", "revenue", "shares_diluted", "net_income"))
    assert(snap.segments.length == 22) // years 2000..2021
    val open = snap.segments.filter(_.end.isEmpty)
    assert(open.map(_.id) == Seq("year_2021"))
    // closed years carry 4 quarter children
    val y2019 = snap.segments.find(_.id == "year_2019").get
    assert(y2019.segments.length == 4)
  }

  test("round-trips semantically: parse(render(s)) == s") {
    for (rel <- Seq("table0/s1.json", "table1/s1.json", "table2/s1.json",
        "financials/s1.json")) {
      val snap = SnapshotCodec.parse(readRef(rel))
      assert(SnapshotCodec.parse(SnapshotCodec.render(snap)) == snap, s"in $rel")
    }
  }

  test("timestamps render RFC3339 with milliseconds, optional fields omitted") {
    val snap = Snapshot(
      TableSchema(Seq(ColumnDef("value", ColumnType.AzString, nullable = false))),
      Seq(Segment("10", Instant.parse("2024-01-01T00:00:00Z"), None,
        Some("base.parquet"), Seq.empty, Seq.empty)))
    val json = SnapshotCodec.render(snap)
    assert(json.contains("\"2024-01-01T00:00:00.000Z\""))
    assert(!json.contains("\"end\""))
    assert(!json.contains(": null") && !json.contains(":null"))
  }

  test("accepts offset timestamps, normalizes to UTC") {
    assert(SnapshotCodec.parseTimestamp("2024-01-01T02:00:00.000+02:00") ==
      Instant.parse("2024-01-01T00:00:00Z"))
  }

  test("delta commit-seq ext field round-trips; malformed degrades to None") {
    val snap = Snapshot(
      TableSchema(Seq(ColumnDef("value", ColumnType.AzString, nullable = false))),
      Seq(Segment("10", Instant.parse("2024-01-01T00:00:00Z"), None, None,
        Seq.empty, Seq(
          Delta("d1.parquet", Instant.parse("2024-02-01T00:00:00Z"),
            Instant.parse("2024-02-02T00:00:00Z"), seq = Some(7L)),
          Delta("d2.parquet", Instant.parse("2024-02-03T00:00:00Z"),
            Instant.parse("2024-02-04T00:00:00Z"))))))
    val back = SnapshotCodec.parse(SnapshotCodec.render(snap))
    assert(back == snap)
    assert(back.segments.head.delta.map(_.seq) == Seq(Some(7L), None))
    // seq-less render carries NO seq field (reference-shape parity for
    // snapshots that never saw a seq-stamping commit)
    assert(!SnapshotCodec.render(snap).split("\n")
      .filter(_.contains("d2"))
      .exists(_.contains("seq")))
    // a foreign writer's non-integral seq degrades to None, never to 0
    val json =
      """{"schema": {"columns": [
        |  {"name": "value", "data_type": "String", "nullable": false}]},
        | "segments": [{"id": "1", "start": "2024-01-01T00:00:00.000Z",
        |   "delta": [{"file": "d.parquet",
        |     "start": "2024-02-01T00:00:00.000Z",
        |     "end": "2024-02-02T00:00:00.000Z", "seq": "oops"}]}]}""".stripMargin
    assert(SnapshotCodec.parse(json).segments.head.delta.head.seq.isEmpty)
  }

  test("stream_batches drops non-integral entries instead of mapping to 0") {
    // asLong() would turn "oops" into 0, and a spurious appId -> 0 entry
    // makes commitBatch treat that stream's batch 0 as a replay — the
    // malformed entry must degrade away like every other ext field
    val json =
      """{"schema": {"columns": [
        |  {"name": "value", "data_type": "String", "nullable": false}]},
        | "segments": [{"id": "1", "start": "2024-01-01T00:00:00.000Z",
        |               "segments": []}],
        | "stream_batches": {"good": 7, "corrupt": "oops",
        |                    "fractional": 3.5, "nully": null}}""".stripMargin
    val snap = SnapshotCodec.parse(json)
    assert(snap.streamBatches == Map("good" -> 7L))
  }

  test("classify: valid / well-formed-unknown / malformed three-way split") {
    import SnapshotCodec.DocClass._
    // every reference fixture classifies Valid
    assert(SnapshotCodec.classify(readRef("financials/s1.json"))
      .isInstanceOf[Valid])
    // complete JSON objects this codec cannot read are NOT debris —
    // plausibly a newer engine's committed document
    assert(SnapshotCodec.classify("{\"racer\": true}")
      .isInstanceOf[WellFormedUnknown])
    assert(SnapshotCodec.classify(
      "{\"format_version\": 99, \"segments_v2\": []}")
      .isInstanceOf[WellFormedUnknown])
    // truncated / invalid JSON and non-object scalars are crash debris
    assert(SnapshotCodec.classify("{\"schema\": {\"col")
      .isInstanceOf[Malformed])
    assert(SnapshotCodec.classify("").isInstanceOf[Malformed])
    assert(SnapshotCodec.classify("5").isInstanceOf[Malformed])
    assert(SnapshotCodec.classify("[1, 2]").isInstanceOf[Malformed])
  }
}
