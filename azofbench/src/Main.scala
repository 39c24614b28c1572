package azofbench

import java.nio.file.{Files, Path => JPath, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** The azof benchmark's measuring program (run it through run.py, which
  * builds it). One run: set up (session, lake build) three times and keep
  * the last, warm up, run the workload's ops in a closed loop with one
  * client for `--seconds` of op time, check every read against the
  * brute-force model, and print one result line. `--trace 1` instead
  * sets up twice, then measures an untraced and a traced phase one after
  * the other, and reports the per-layer metrics and the tracing overhead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      runDir: String, outDir: String, commit: String, build: String,
      injectWrong: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = req("--workload")
    require(Workload.names.contains(w), s"unknown workload $w")
    Args(w, req("--seed").toLong, req("--seconds").toInt, req("--trace") == "1",
      req("--run-dir"), req("--out-dir"), m.getOrElse("--commit", "none"),
      m.getOrElse("--build", "none"), a.contains("--inject-wrong"))
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private val nproc = Runtime.getRuntime.availableProcessors
  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"azofbench ${(System.nanoTime() - started) / 1e9}%7.2fs $msg")

  private def load1: Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  private def session(runDir: String, lake: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("azofbench")
      .withExtensions(new graft.plans.AzofExtensions)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.azof.path", lake)
      .config("spark.azof.mv.rewrite", "auto")
      .config("spark.sql.catalog.azc", classOf[graft.sources.AzofCatalog].getName)
      .config("spark.sql.catalog.azc.path", lake)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(p: JPath): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def dirBytes(p: JPath): (Long, Int) = {
    var bytes = 0L; var files = 0
    Files.walk(p).filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
    (bytes, files)
  }

  /** One set-up: fresh session, fresh lake, build. */
  final class Setup(val a: Args, val i: Int) {
    val lake: String = s"${a.runDir}/lake$i"
    private val t0 = System.nanoTime()
    val spark: SparkSession = session(a.runDir, lake)
    log(s"set-up $i: session")
    val w: Workload = Workload(a.workload, a.seed, spark, lake)
    w.build()
    val seconds: Double = (System.nanoTime() - t0) / 1e9
    log(s"set-up $i: lake built")

    /** Untimed ops of every type, run once before measuring. */
    def warmup(): Unit = {
      val runner = new Runner(spark, lake, new Tracer(false), None, new Acc)
      (0 until w.warmupOps).foreach { j =>
        val op = w.next()
        runner.run(op, -1 - j)
        op match { case wr: Write => wr.apply(); case _ => () }
      }
      w.endWarmup()
      log(s"set-up $i: warm")
    }

    def close(): Unit = {
      spark.stop()
      deleteTree(Paths.get(lake))
    }
  }

  /** What a measured phase saw. */
  final class Outcome {
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0
    var failed = 0
    var busyMs = 0.0
    var nonEmpty = 0
    var lastPass: Option[(Seq[String], Seq[String])] = None
    val errors = mutable.ArrayBuffer.empty[String]
    def ok(kind: String, ms: Double): Unit =
      lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    def fail(msg: String): Unit = {
      failed += 1
      if (errors.size < 5) errors += msg
    }
    def samples(kind: String): Seq[Double] = lat.get(kind).map(_.toSeq).getOrElse(Nil)
    def completed: Int = lat.valuesIterator.map(_.size).sum
  }

  /** Linear-interpolated percentile; 0 when there are no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The closed loop: next op only after the previous one returned. */
  private def measure(s: Setup, runner: Runner, seconds: Int, injectWrong: Boolean): Outcome = {
    val o = new Outcome
    var id = 0
    var injected = !injectWrong
    while (o.busyMs < seconds * 1000.0 || !s.w.roundEnd) {
      val op = s.w.next()
      val t0 = System.nanoTime()
      o.attempted += 1
      try {
        val (answer, ms) = runner.run(op, id)
        o.busyMs += ms
        log(f"op $id ${op.sub} $ms%.1f ms")
        op match {
          case r: Read =>
            val want = r.expected()
            val got = if (injected) answer.get else { injected = true; corrupt(answer.get) }
            if (verdict(got, want)) {
              o.ok(r.kind, ms)
              if (want.nonEmpty) { o.nonEmpty += 1; o.lastPass = Some((got, want)) }
            }
            else o.fail(s"${r.sub} #$id: got ${got.take(3)} want ${want.take(3)}")
          case w: Write => w.apply(); o.ok(w.kind, ms)
        }
      } catch {
        case NonFatal(e) =>
          o.busyMs += (System.nanoTime() - t0) / 1e6
          o.fail(s"${op.sub} #$id: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      id += 1
    }
    o
  }

  private def verdict(got: Seq[String], want: Seq[String]): Boolean = got == want

  /** One value of a real answer changed, or a row added to an empty one. */
  private def corrupt(xs: Seq[String]): Seq[String] =
    if (xs.isEmpty) Seq("wrong") else (xs.head + "0") +: xs.tail

  /** Verifier self-check on the last read that passed: its answer must
    * pass again and, with one value changed, be refused.
    */
  private def canary(o: Outcome): Boolean = o.lastPass.exists { case (got, want) =>
    verdict(got, want) && !verdict(corrupt(got), want)
  }

  /** Current state read through the engine vs the model: one check. */
  private def finalCheck(s: Setup, o: Outcome): Unit = {
    o.attempted += 1
    val got = Norm.rows(s.spark.read.format("azof").option("table", s.w.table)
      .load(s.lake).collect())
    val want = Norm.recs(s.w.model.state(None).toSeq)
    if (!verdict(got, want)) o.fail(s"final Current state of ${s.w.table}: ${got.size} rows, want ${want.size}")
  }

  /** Heap in use after a full GC, the least of three tries 150 ms
    * apart: Spark's cleaner frees broadcast blocks only after the
    * GC that found them unreachable, and a background allocation between
    * collection and reading should not count.
    */
  private def retainedHeapMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      val used = m.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(150)
      used
    }.min
  }

  /** Table bytes ÷ bytes of one parquet file holding its Current view. */
  private def spaceAmp(s: Setup): Double = {
    val out = s"${s.a.runDir}/current_copy"
    s.spark.read.format("azof").option("table", s.w.table).load(s.lake)
      .coalesce(1).write.mode("overwrite").parquet(out)
    val one = Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet"))
      .mapToLong(Files.size(_)).sum
    deleteTree(Paths.get(out))
    dirBytes(Paths.get(s.lake, s.w.table))._1.toDouble / one
  }

  private def run(a: Args): Int = {
    val load0 = load1
    Files.createDirectories(Paths.get(a.runDir))
    val header = mutable.LinkedHashMap[String, Any](
      "benchmark" -> "azofbench", "workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> (if (a.trace) 1 else 0),
      "git_commit" -> a.commit, "source_build" -> a.build, "nproc" -> nproc,
      "load1_start" -> load0, "jvm" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    var last: Setup = null
    def freshSetup(i: Int): Setup = {
      if (last != null) last.close()
      last = new Setup(a, i)
      setupSeconds += last.seconds
      last
    }
    try {
      if (!a.trace) {
        (1 to 3).foreach(freshSetup)
        val s = last
        header("table_shape") = s.w.shape()
        s.warmup()
        val runner = new Runner(s.spark, s.lake, new Tracer(false), None, new Acc)
        val o = measure(s, runner, a.seconds, a.injectWrong)
        log(s"measured ${o.attempted} ops")
        val heap = retainedHeapMb()
        finalCheck(s, o)
        val amp = spaceAmp(s)
        val canaryOk = canary(o)
        log("checked")
        report(a, header, o, canaryOk, load0)
        val metrics = Seq(
          "setup_s" -> (pct(setupSeconds.toSeq, 0.5), "s"),
          "ops_per_s" -> (o.completed / (o.busyMs / 1000.0), "1/s"),
          "read_p50_ms" -> (pct(o.samples("read"), 0.5), "ms"),
          "read_p90_ms" -> (pct(o.samples("read"), 0.9), "ms"),
          "retained_heap_mb" -> (heap, "MB"),
          "space_amp" -> (amp, "ratio"))
        extra(o, setupSeconds.toSeq, s)
        result(o, canaryOk, metrics)
      } else {
        (1 to 2).foreach(freshSetup)
        val s = last
        header("table_shape") = s.w.shape()
        s.warmup()
        val ob = measure(s, new Runner(s.spark, s.lake, new Tracer(false), None, new Acc),
          a.seconds, a.injectWrong)
        val baseRate = ob.completed / (ob.busyMs / 1000.0)
        val tracer = new Tracer(true)
        val listener = new ExecListener
        s.spark.sparkContext.addSparkListener(listener)
        val acc = new Acc
        val runner = new Runner(s.spark, s.lake, tracer, Some(listener), acc)
        runner.execSinceLast() // what the untraced phase left on the bus
        val o = measure(s, runner, a.seconds, injectWrong = false)
        o.attempted += ob.attempted
        o.failed += ob.failed
        o.errors ++= ob.errors
        finalCheck(s, o)
        val (tb, tf) = dirBytes(Paths.get(s.lake, s.w.table))
        val rate = o.completed / (o.busyMs / 1000.0)
        val spans = Paths.get(a.outDir, s"azofbench-spans-${a.workload}-seed${a.seed}.json")
        header("span_file") = spans.toString
        tracer.write(spans, header.toMap)
        val canaryOk = canary(o)
        report(a, header, o, canaryOk, load0)
        extra(o, setupSeconds.toSeq, s)
        result(o, canaryOk, Layers.metrics(acc, rate, baseRate, tb, tf))
      }
      0
    } finally {
      if (last != null) last.close()
      deleteTree(Paths.get(a.runDir))
    }
  }

  private def report(a: Args, header: mutable.LinkedHashMap[String, Any], o: Outcome,
      canaryOk: Boolean, load0: Double): Unit = {
    header("load1_end") = load1
    header("verifier_canary_refused") = canaryOk
    header("nonempty_answers") = o.nonEmpty
    println("# header " + Json.obj(header))
    o.errors.foreach(e => println(s"# failure $e"))
  }

  /** Every latency the run took, by op kind, with sample counts. */
  private def extra(o: Outcome, setups: Seq[Double], s: Setup): Unit = {
    val kinds = o.lat.map { case (k, xs) =>
      k -> Map("n" -> xs.size, "p50_ms" -> pct(xs.toSeq, 0.5), "p90_ms" -> pct(xs.toSeq, 0.9))
    }
    val build = s.w.buildTimes.groupBy(_._1).map { case (k, xs) =>
      k -> Map("n" -> xs.size, "p50_ms" -> pct(xs.map(_._2).toSeq, 0.5))
    }
    println("# report " + Json.obj(Seq(
      "failed_frac" -> o.failed.toDouble / math.max(1, o.attempted),
      "setup_s_each" -> setups, "ops" -> kinds.toMap, "lake_build_calls" -> build)))
  }

  private def result(o: Outcome, canaryOk: Boolean, metrics: Seq[(String, (Double, String))]): Unit = {
    val ms = metrics.map { case (n, (v, u)) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    println(s"""{"correct": ${o.failed == 0 && canaryOk}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }
}
