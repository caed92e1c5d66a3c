package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.{LocalDate, ZoneOffset}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.Drain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{Sessions, SparkEntry}
import graft.pipeline.{Flagship, WindowResult}
import graft.queries.{CoverageQueries, CurationQueries, LlmQueries, MediaQueries, PipelineQueries}

/** The benchmark driver: one JVM, one client, a closed loop of calls into
  * graft's public entry points (`Sessions.build`, `SparkEntry.queries`,
  * the query packs and the `Flagship` export loops).
  *
  *   Driver --workload taq_chain|query_sweep --seed N
  *          --seconds S --trace 0|1 --in DIR --work DIR --result FILE
  *
  * A run sets up [[Setups]] times (session build plus one warm pass over
  * the ops, the session stopped in between) and keeps the last session.
  * It then runs whole passes over the workload's ops, in the order the
  * seed sets, until `--seconds` have elapsed. Each op's output is reduced
  * to a digest after its timer stops, and every call of an op, set-up
  * calls included, must give the same digest. The last pass's outputs
  * stay on disk under `--work` for run.py to grade against DuckDB.
  *
  * With `--trace 1` the measured passes are traced: each op runs under a
  * Spark job group named for its span, and a [[Tracer]] listener
  * attributes jobs, stages and task metrics to spans. Everything stays in
  * memory until the result file is written at the end. Tracing overhead is
  * a traced run's pass time minus an untraced run's.
  */
object Driver {

  /** What one call returned: collected query results, or the export
    * loop's per-window outcomes (its artifacts are on disk).
    */
  sealed trait Raw
  final case class Results(qs: Seq[(String, Array[Row], StructType)]) extends Raw
  final case class Windows(rs: Seq[WindowResult]) extends Raw

  /** A digest of one call's output plus export counters, taken after
    * the timer stops.
    */
  final case class Out(digest: String, files: Int = 0, bytes: Long = 0L,
                       failedWindows: Int = 0)

  /** One timed call. `run` gets the session, the input dir and a fresh
    * directory for its artifacts (emptied before the op's next call).
    */
  final case class Op(name: String, span: String,
                      run: (SparkSession, String, File) => Raw,
                      checks: Seq[Check])

  /** What run.py grades the op's last output against. */
  final case class Check(kind: String, name: String, params: Map[String, Any])

  /** One timed call: its wall time and the calling thread's CPU and the
    * JVM's GC pause time while it ran, then its digested output or error.
    */
  final case class Call(secs: Double, cpuSecs: Double, gcSecs: Double,
                        res: Either[String, (Raw, Out)])

  /** Set-ups per run: the first is cold (JVM, class loading, JIT); the
    * others are warm and give `setup_s`.
    */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val in = a("in")
    val work = new File(a("work"))
    val ops = new Random(seed).shuffle(Workloads(workload, seed))
    def dirOf(op: Op) = new File(work, op.name)
    LiveHeap.install()

    // Every call of an op, in set-up or measured, is checked: it must not
    // throw or fail a window, and all its calls must give the same digest.
    val digests = mutable.Map[String, Set[String]]().withDefaultValue(Set())
    val last = mutable.Map[String, Raw]()
    var attempted, failed = 0
    def check(op: Op, c: Call): Option[Out] = {
      attempted += 1
      c.res match {
        case Right((raw, o)) =>
          digests(op.name) += o.digest
          last(op.name) = raw
          if (o.failedWindows > 0) failed += 1
          Some(o)
        case Left(e) =>
          failed += 1
          last.remove(op.name)
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          None
      }
    }

    // ---- set-up: session build + warm pass, several times; keep the last.
    // Its time is the session build plus the warm calls' own times.
    val setupTimes = (1 to Setups).map { r =>
      val t0 = System.nanoTime()
      val spark = Sessions.build("perfbench")
      val built = (System.nanoTime() - t0) / 1e9
      val calls = ops.map(op => op -> timed(spark, op, in, dirOf(op)))
      calls.foreach { case (op, c) => check(op, c) }
      val s = built + calls.map(_._2.secs).sum
      System.err.println(f"[perfbench] set-up $r: $s%.2f s, session $built%.2f s, " +
        calls.map { case (op, c) => f"${op.name} ${c.secs}%.2f" }.mkString(", "))
      if (r < Setups) spark.stop()
      s
    }
    val spark = SparkSession.active

    // ---- measurement: whole passes until the time is up. A pass's wall,
    // driver-thread CPU and GC seconds are the sums over its calls, so the
    // digesting and clean-up between calls are not counted.
    val samples = Seq.newBuilder[(String, Double, Boolean)]
    val passes = Seq.newBuilder[(Double, Double, Double)]
    var outBytes = 0L
    val tracer = new Tracer
    if (trace) spark.sparkContext.addSparkListener(tracer)
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val calls = ops.map { op =>
        val c =
          if (!trace) timed(spark, op, in, dirOf(op))
          else timed(spark, op, in, dirOf(op),
            () => tracer.begin(spark, op.span), () => tracer.end(spark, op.span))
        val out = check(op, c)
        samples += ((op.name, c.secs, out.isDefined))
        out.foreach { o =>
          outBytes += o.bytes
          if (trace) tracer.exported(op.span, o.files, o.bytes)
        }
        c
      }
      passes += ((calls.map(_.secs).sum, calls.map(_.cpuSecs).sum,
        calls.map(_.gcSecs).sum))
      n += 1
    }
    if (trace) {
      Drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
    }
    val heapMb = LiveHeap.peakMb

    // ---- the last pass's outputs stay on disk for run.py to grade
    val checked = ops.map { op =>
      last.get(op.name).foreach {
        case Results(qs) => qs.foreach { case (q, rows, schema) =>
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(dirOf(op), q).getPath)
        }
        case _: Windows =>
      }
      val agree = last.contains(op.name) && digests(op.name).size == 1
      if (!agree)
        System.err.println(s"[perfbench] ${op.name}: outputs differ across " +
          s"calls: ${digests(op.name)}")
      op -> agree
    }
    val master = spark.sparkContext.master
    spark.stop()

    val ps = passes.result()
    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "master" -> master,
      "setup_s" -> setupTimes,
      "passes" -> Map("wall_s" -> ps.map(_._1), "driver_cpu_s" -> ps.map(_._2),
        "gc_s" -> ps.map(_._3)),
      "ops" -> samples.result().map { case (n, s, ok) =>
        Map("name" -> n, "s" -> s, "ok" -> ok) },
      "attempted" -> attempted,
      "failed" -> failed,
      "out_bytes" -> outBytes,
      "peak_heap_mb" -> heapMb,
      "check_dir" -> work.getPath,
      "checks" -> checked.flatMap { case (op, ok) =>
        op.checks.map(c => Map("op" -> op.name, "kind" -> c.kind,
          "name" -> c.name, "ok" -> ok) ++ c.params) },
      "spans" -> (if (trace) tracer.report(ps.size) else Map()))
    Files.writeString(Paths.get(a("result")),
      Serialization.write(result)(DefaultFormats))
  }

  private val threads = ManagementFactory.getThreadMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = gcBeans.map(_.getCollectionTime).sum

  /** One timed call into a fresh `dir`. Only the call itself is timed:
    * the directory is emptied before, and the output digested and its
    * artifacts counted after.
    */
  def timed(spark: SparkSession, op: Op, in: String, dir: File,
            begin: () => Unit = () => (),
            end: () => Unit = () => ()): Call = {
    deleteTree(dir.toPath)
    dir.mkdirs()
    begin()
    val (c0, g0) = (threads.getCurrentThreadCpuTime, gcMs)
    val t0 = System.nanoTime()
    val raw = try Right(op.run(spark, in, dir)) catch {
      case e: Throwable => Left(String.valueOf(e.getMessage).take(300))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val (cpu, gc) = ((threads.getCurrentThreadCpuTime - c0) / 1e9, (gcMs - g0) / 1e3)
    end()
    Call(secs, cpu, gc, raw.map(r => r -> digest(r, dir)))
  }

  def digest(raw: Raw, dir: File): Out = raw match {
    case Results(qs) =>
      Out(sha(qs.map { case (q, rows, _) => q + ":" + rowsDigest(rows) }))
    case Windows(rs) =>
      val (d, n, b) = treeDigest(dir)
      Out(d + rs.map(r => s"${r.winStart}:${r.ok}:${r.rows}").mkString(","),
        n, b, rs.count(!_.ok))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })

  /** The largest heap still in use after any garbage collection: the
    * live data the program held at its peak, which unlike the resident
    * set does not depend on when the collector chose to run.
    */
  object LiveHeap {
    private val peak = new java.util.concurrent.atomic.AtomicLong
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(
          (n: Notification, _: Any) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
              val used = info.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
              peak.accumulateAndGet(used, math.max)
            }, null, null)
        case _ =>
      }
    def peakMb: Double = peak.get / 1048576.0
  }

  // ------------------------------------------------------------- digests

  def sha(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => { md.update(p.getBytes("UTF-8")); md.update(0: Byte) })
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Order-insensitive digest of collected rows. */
  def rowsDigest(rows: Array[Row]): String = sha(rows.map(_.toString).sorted)

  /** Digest of every file under `dir`, by relative path (Spark's part
    * file names carry a random id, which is dropped) and sorted lines,
    * gzip decoded.
    */
  def treeDigest(dir: File): (String, Int, Long) = {
    val fs = Files.walk(dir.toPath).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
      .filterNot(p => p.getFileName.toString.startsWith(".") ||
        p.getFileName.toString.startsWith("_"))
    val parts = fs.map { p =>
      val rel = dir.toPath.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1")
      val raw = Files.newInputStream(p)
      val is = if (rel.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
      val lines = try scala.io.Source.fromInputStream(is, "UTF-8").getLines().toVector
      finally is.close()
      rel + "\n" + sha(lines.sorted)
    }.sorted
    (sha(parts), fs.size, fs.map(Files.size).sum)
  }

  // ----------------------------------------------------------- workloads

  def epoch(d: LocalDate, h: Int, m: Int): Long =
    d.atTime(h, m).toEpochSecond(ZoneOffset.UTC)

  /** January 2024 business days; the generated ticks span Jan 1-30. */
  val businessDays: Seq[LocalDate] =
    Flagship.businessDays(LocalDate.of(2024, 1, 2), LocalDate.of(2024, 1, 29))

  def queryOp(name: String, span: String): Op =
    queriesOp(name, span, Seq(name))

  /** Run named registered queries, each collected and its caches
    * released the way graft's own Verify does.
    */
  def queriesOp(name: String, span: String, qs: Seq[String]): Op = {
    val fns = qs.map(q => q -> SparkEntry.queries(q))
    Op(name, span, (spark, in, _) => Results(fns.map { case (q, fn) =>
      try {
        val df = fn(spark, in)
        (q, df.collect(), df.schema)
      } finally {
        graft.ops.Time.unpersistPanels()
        spark.catalog.clearCache()
      }
    }), qs.map(q => Check("oracle", q,
      Map("sql" -> SparkEntry.oracleSql.getOrElse(q, "")))))
  }

  object Workloads {
    def apply(name: String, seed: Long): Seq[Op] = name match {
      case "taq_chain" => taqChain(seed)
      case "query_sweep" => querySweep
      case _ => sys.error(s"unknown workload '$name'")
    }

    /** The reference pipeline, PAPER.md (a)-(e): universe, daily
      * resample export, windowed correlation export, the correlation
      * matrix at the reference width exported square, and the graph
      * dataset's edges from the one-pass wide tier (g4). The seed picks
      * the trading days.
      */
    def taqChain(seed: Long): Seq[Op] = {
      val rnd = new Random(seed ^ 0x7a9L)
      val days = rnd.shuffle(businessDays).take(DailyDays).sorted
      val session = businessDays(rnd.nextInt(businessDays.size))
      val (open, close) = (epoch(session, 9, 30), epoch(session, 16, 0))
      val wideA = LocalDate.of(2024, 1, 1 + rnd.nextInt(28))
        .atStartOfDay.toEpochSecond(ZoneOffset.UTC)
      val wideB = wideA + 2 * 86400L
      Seq(
        queriesOp("universe", "universe",
          Seq("j1_interval_join", "p10_snapshot_distinct")),
        Op("daily_export", "daily_export", (spark, in, dir) =>
          Windows(Flagship.runDailyExport(spark, in, dir.getPath,
            days, 60, DailyUsers)),
          Seq(Check("daily", "daily_export", Map(
            "days" -> days.map(_.toString), "freq" -> 60,
            "users" -> DailyUsers)))),
        Op("window_corr", "window_corr", (spark, in, dir) =>
          Windows(Flagship.run(spark, in, dir.getPath, open, close,
            WindowSec, 300, WindowUsers, "long")),
          Seq(Check("window", "window_corr", Map("open" -> open,
            "close" -> close, "window" -> WindowSec, "freq" -> 300,
            "users" -> WindowUsers)))),
        Op("wide_export", "wide_export", (spark, in, dir) =>
          Windows(Flagship.runWideAtWidth(spark, in, dir.getPath,
            wideA, wideB, 86400, 600, WideUsers)),
          Seq(Check("wide", "wide_export", Map("open" -> wideA,
            "close" -> wideB, "window" -> 86400, "freq" -> 600,
            "users" -> WideUsers)))),
        queryOp("g4_wide_edges", "graph"))
    }

    // Sized so a pass takes about 5 s on 4 cores: every run also pays
    // 25-40 s of cold JVM start, and the whole benchmark must fit a fixed
    // time budget. At sf0.01 the wide ops see all 150 generated series.
    val DailyDays = 1
    val DailyUsers = 100
    val WindowSec = 4 * 3600
    val WindowUsers = 50
    val WideUsers = 500

    /** Packs by their public `all` lists; the rest of the registry is
      * the core pack.
      */
    def packOf: Map[String, String] = {
      // SparkEntry first: it initializes the packs it concatenates
      val registry = SparkEntry.queries.keys
      val packs = Seq("llm" -> LlmQueries.all, "pipeline" -> PipelineQueries.all,
        "coverage" -> CoverageQueries.all, "curation" -> CurationQueries.all,
        "media" -> MediaQueries.all)
      val named = packs.flatMap { case (p, qs) => qs.map(_.name -> p) }.toMap
      registry.map(q => q -> named.getOrElse(q, "core")).toMap
    }

    /** The first query of each pack in name order, a fixed,
      * seed-independent sample with every pack in it, and the LSH-pruned
      * thresholded correlation tier (a3d, ops/CorrPrune).
      */
    def querySweep: Seq[Op] =
      packOf.groupBy(_._2).toSeq.sortBy(_._1).map { case (pack, qs) =>
        queryOp(qs.keys.min, "pack." + pack)
      } :+ queryOp("a3d_corr_pruned", "corr.pruned")
  }
}
