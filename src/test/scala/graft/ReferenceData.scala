package graft

import graft.format.{Delta, Segment, Snapshot, SnapshotCodec, TableSchema}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import scala.reflect.io.Directory
import scala.util.Random

/** The reference's four fixture tables (`table0`, `table1`, `table2`,
  * `financials`) for the paper-parity specs, in the reference's on-disk
  * format: `version.txt` = `1`, `s1.json` in the reference JSON shape
  * (no stats or seq extension fields), and single-object parquet files
  * with `key`, `event_time` (timestamp millis), then the value columns,
  * rows event_time-descending.
  *
  * Where a checkout of the reference sits beside this repository
  * (`../reference/test-data`), [[lake]] is its own test-data, so parity
  * runs against the reference's bytes. Otherwise [[lake]] is a temp
  * directory built once per JVM: the snapshot documents and
  * `table2/base.csv` are copied from `src/test/resources/test-data`, and
  * the parquet files are written from the typed rows below (table0-2)
  * and from a seeded generator (financials). Nothing is written under
  * `src/test/resources`.
  */
object ReferenceData {
  private val referenceDir: Option[Path] = {
    val dir = Paths.get(sys.props("user.dir"), "..", "reference", "test-data")
      .toAbsolutePath.normalize()
    Some(dir).filter(d => Files.isRegularFile(d.resolve("table0/version.txt")))
  }

  /** Lakehouse root holding the four tables. */
  lazy val lake: String = referenceDir.fold(materialize())(_.toString)

  /** A committed fixture document (e.g. `table2/s1.json`) as text — no
    * SparkSession, no materialization.
    */
  def text(rel: String): String = referenceDir match {
    case Some(d) => new String(Files.readAllBytes(d.resolve(rel)), UTF_8)
    case None =>
      val in = getClass.getResourceAsStream(s"/test-data/$rel")
      require(in != null, s"no committed fixture test-data/$rel")
      try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private val committed = Map(
    "table0" -> Seq("version.txt", "s1.json"),
    "table1" -> Seq("version.txt", "s1.json"),
    "table2" -> Seq("version.txt", "s1.json", "base.csv"),
    "financials" -> Seq("version.txt", "s1.json"))

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  private val jan1 = ts("2024-01-01T00:00:00Z")

  /** table0/table1/table2 rows per data file. Base rows and the table0
    * delta's values are FIXTURES.md §A's; event times inside a delta
    * window and table1/table2's intermediate values are chosen to meet
    * the reference scan tests' expectations (lakehouse.rs:136-369).
    */
  private val smallTables: Map[String, Map[String, Seq[Row]]] = Map(
    "table0" -> Map(
      "base.parquet" -> Seq(Row("1", jan1, "abc"), Row("2", jan1, "xyz")),
      "delta1.parquet" -> Seq(
        Row("3", ts("2024-03-01T00:00:00Z"), "www2"),
        Row("2", ts("2024-02-20T00:00:00Z"), "xyz2"),
        Row("1", ts("2024-02-15T00:00:00Z"), "abc2"))),
    "table1" -> Map(
      "delta1.parquet" -> Seq(
        Row("2", ts("2024-03-01T00:00:00Z"), "xyz2"),
        Row("1", ts("2024-02-01T00:00:00Z"), "abc2")),
      "delta2.parquet" -> Seq(
        Row("2", ts("2024-06-20T00:00:00Z"), "xyz3"),
        Row("1", ts("2024-06-15T00:00:00Z"), "abc4"),
        Row("1", ts("2024-05-15T00:00:00Z"), "abc3"))),
    // base.parquet is written from these typed rows, never from base.csv,
    // so AzofWriterSpec's CSV check compares against an independent file
    "table2" -> Map(
      "base.parquet" -> Seq(
        Row("1", jan1, "abc", 100L, true, jan1),
        Row("2", jan1, "xyz", 200L, false, jan1)),
      "delta1.parquet" -> Seq(
        Row("3", ts("2024-03-01T00:00:00Z"), "www2", 300L, false,
          ts("2024-03-01T00:00:00Z")),
        Row("2", ts("2024-02-20T00:00:00Z"), "xyz2", 222L, false, jan1),
        Row("1", ts("2024-02-15T00:00:00Z"), "abc2", 100L, true, jan1))))

  private val industries = Seq("Software", "Banks", "Biotechnology",
    "Oil & Gas", "Retail", "Semiconductors", "Utilities", "Insurance")

  /** Synthetic financials: 400 ticker-like keys with a fixed industry
    * each. A base file holds every key at its segment's start; a delta
    * file updates a ~10% sample strictly inside its window, one row per
    * key, so no two rows of a key share an event time. Every file draws
    * from its own seed (its name), so the data is identical across runs.
    */
  private def financialsRows(snap: Snapshot): Map[String, Seq[Row]] = {
    val rnd = new Random(2019)
    val keys = Iterator.continually(
      Seq.fill(3 + rnd.nextInt(2))(('A' + rnd.nextInt(26)).toChar).mkString)
      .distinct.take(400).toVector.sorted
    val industry = keys.map(k => k -> industries(rnd.nextInt(industries.size))).toMap
    def row(r: Random, k: String, t: Long): Row = Row(k, new Timestamp(t),
      industry(k), 1000000L + r.nextInt(900000000), 1000000L + r.nextInt(90000000),
      r.nextInt(200000000).toLong - 50000000L)
    def base(file: String, start: Instant): (String, Seq[Row]) = {
      val r = new Random(file.hashCode.toLong)
      file -> keys.map(row(r, _, start.toEpochMilli))
    }
    def delta(d: Delta): (String, Seq[Row]) = {
      val r = new Random(d.file.hashCode.toLong)
      val (lo, hi) = (d.start.toEpochMilli, d.end.toEpochMilli)
      d.file -> keys.filter(_ => r.nextDouble() < 0.1)
        .map(k => row(r, k, lo + 1 + (r.nextDouble() * (hi - lo - 2)).toLong))
    }
    def walk(s: Segment): Seq[(String, Seq[Row])] =
      s.file.map(base(_, s.start)).toSeq ++ s.delta.map(delta) ++
        s.segments.flatMap(walk)
    snap.segments.flatMap(walk).toMap
  }

  private def materialize(): String = {
    val root = Files.createTempDirectory("azof-reference-data")
    sys.addShutdownHook(new Directory(root.toFile).deleteRecursively())
    for ((table, files) <- committed; f <- files) {
      Files.createDirectories(root.resolve(table))
      Files.write(root.resolve(s"$table/$f"), text(s"$table/$f").getBytes(UTF_8))
    }
    for (table <- committed.keys) {
      val snap = SnapshotCodec.parse(text(s"$table/s1.json"))
      // StatisticsSpec's stat-less check relies on the reference shape
      require(!hasStats(snap), s"$table/s1.json carries per-file stats")
      val files = smallTables.getOrElse(table, financialsRows(snap))
      require(files.keySet == snap.allFiles,
        s"$table rows name ${files.keySet}, s1.json names ${snap.allFiles}")
      writeFiles(root.resolve(table), snap.schema, files)
    }
    root.toString
  }

  private def hasStats(snap: Snapshot): Boolean = {
    def walk(s: Segment): Boolean =
      s.fileStats.isDefined || s.delta.exists(_.stats.isDefined) ||
        s.segments.exists(walk)
    snap.segments.exists(walk)
  }

  /** Every data file of one table in ONE Spark write job: rows carry
    * their target file name as a partition column, and each partition
    * directory's single part file is then moved to `dir/<file>`.
    */
  private def writeFiles(dir: Path, schema: TableSchema,
      files: Map[String, Seq[Row]]): Unit = {
    val spark = TestSpark.spark
    val struct = schema.toStruct.add("_file", StringType, nullable = false)
    val rows = files.toSeq.flatMap { case (f, rs) => rs.map(r => Row.fromSeq(r.toSeq :+ f)) }
    val staging = dir.resolve("_staging")
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try spark.createDataFrame(spark.sparkContext.parallelize(rows), struct)
      .repartition(math.min(files.size, 8), col("_file"))
      .sortWithinPartitions(col("_file"), col(TableSchema.EventTimeName).desc)
      .write.partitionBy("_file").parquet(staging.toString)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    for (f <- files.keys) {
      val parts = staging.resolve(s"_file=$f").toFile.listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"expected one part file for $f, got ${parts.toSeq}")
      Files.move(parts.head.toPath, dir.resolve(f))
    }
    new Directory(staging.toFile).deleteRecursively()
  }
}
