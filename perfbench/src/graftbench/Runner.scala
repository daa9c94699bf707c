package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.model.BackupLedger
import graft.streaming.EventStream

/** One benchmark run in one JVM: set up a session, drive one workload
  * from a single client thread in a closed loop for a fixed time, check
  * every result against its reference, and write a JSON result file
  * that `perfbench/run.py` turns into metrics.
  *
  *   graftbench.Runner --workload <w> --data <dir> --work <dir>
  *     --seconds <n> --seed <n> --trace <0|1> --out <result.json>
  *
  * With `--trace 1` the window runs an untraced settling round, then
  * untraced and traced rounds in the order U T T U U T T U …, with
  * Spark's listeners registered only during the traced ones. The traced
  * and untraced rounds then sit at the same point of the JVM's warm-up,
  * on average, and the tracing overhead is the traced rounds' wall
  * against the untraced rounds' after the settling round.
  * Spans are written to `<work>/spans.jsonl` and the layer counters to
  * the result file.
  */
object Runner {

  final case class Conf(workload: String, data: String, work: String,
      seconds: Double, seed: Long, trace: Boolean, out: String)

  /** What one operation left behind: when its sink finished, its rows'
    * fingerprint and the rows themselves (both computed after that
    * time, outside the timed operation), the records it is credited
    * with (see `Workload.recordOps`), and where a streaming landing put
    * its output. */
  final case class Outcome(doneMs: Double, fingerprint: String, rows: Array[Row],
      schema: StructType, records: Long, landedAt: String = null)

  final case class OpRecord(id: Int, round: Int, traced: Boolean, name: String, startMs: Double,
      endMs: Double, ok: Boolean, records: Long, error: String)

  val setupReps = 3
  /** Rounds per window at least: 5 rounds of `interactive` are 40
    * requests, so `req_p75_s` has ten samples beyond it. A traced window
    * runs the settling round and at least two U T T U blocks. */
  val minRounds = 5
  val minTracedRounds = 9
  val cores: Int = Runtime.getRuntime.availableProcessors()

  // ---- clock: epoch milliseconds with nanosecond resolution, so spans
  // line up with the epoch-ms times Spark's listeners report.
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val c = Conf(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv("seed").toLong, kv("trace") == "1", kv("out"))
    val w: Workload = c.workload match {
      case "interactive" => new Interactive(c)
      case "corpus"      => new CorpusPipeline(c)
      case other         => sys.error(s"unknown workload $other")
    }
    val calibBefore = Env.calibrate()

    // ---- setup, repeated: session start + extension registration, then
    // the workload's warm-up operation; every session but the last stops.
    val setups = (1 to setupReps).map { i =>
      val t0 = nowMs()
      val spark = newSession(c)
      val t1 = nowMs()
      w.warmup(spark)
      val t2 = nowMs()
      if (i < setupReps) stopSession(spark)
      (t0, t1, t2)
    }
    val spark = SparkSession.active
    val tPrime = nowMs()
    w.prime(spark)
    val tWindow = nowMs()

    val heap = new HeapWatch
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    tracer.foreach { tr =>
      setups.zipWithIndex.foreach { case ((t0, t1, t2), i) =>
        tr.span(s"session-$i", "session.start", None, t0, t1)
        tr.span(s"session-$i", "session.warmup", None, t1, t2)
      }
    }
    val window = measure(c, w, spark, heap, tracer)

    // ---- correctness, outside the timed operations
    val tCheck = nowMs()
    val checks = w.check(spark, window.outcomes)
    heap.sample(forceGc = true)
    val tEnd = nowMs()
    val calibAfter = Env.calibrate()

    val json = new Json
    json.obj {
      json.field("workload", c.workload); json.field("seed", c.seed)
      json.field("cores", cores)
      json.arr("setup_ms", setups.map { case (t0, _, t2) => t2 - t0 })
      json.arr("session_start_ms", setups.map { case (t0, t1, _) => t1 - t0 })
      json.arr("session_warmup_ms", setups.map { case (_, t1, t2) => t2 - t1 })
      json.field("peak_heap_mb", heap.peakBytes / 1048576.0)
      json.key("phase_ms"); json.obj {
        json.field("setup", tPrime - setups.head._1); json.field("prime", tWindow - tPrime)
        json.field("windows", tCheck - tWindow); json.field("check", tEnd - tCheck)
      }
      json.key("window"); window.write(json)
      json.arr("record_ops", w.recordOps)
      tracer.foreach { tr =>
        json.key("layers"); tr.writeLayers(json, window.tracedWallMs)
        tr.writeSpans(Paths.get(c.work, "spans.jsonl"))
      }
      json.key("checks"); json.obj {
        json.field("mismatched_ops", checks.mismatched)
        json.arr("mismatched_names", checks.mismatchedNames.toSeq.sorted)
        json.arr("oracle_dumps", checks.dumped.sorted)
      }
      json.key("inputs"); json.raw(w.describe)
      json.key("env"); json.obj {
        json.field("nproc", cores)
        json.field("jvm", System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version"))
        json.field("spark", spark.version)
        json.arr("calibration_ms", Seq(calibBefore, calibAfter))
      }
    }
    Files.writeString(Paths.get(c.out), json.result)
    spark.stop()
  }

  def newSession(c: Conf): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("graftbench"), cores)
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.graft.scratch", s"${c.work}/scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** The measured window: operations back to back from one thread, in
    * whole rounds. */
  final case class Window(roundMs: Seq[Double], roundTraced: Seq[Boolean], ops: Seq[OpRecord],
      outcomes: Seq[(String, Either[String, Outcome])]) {
    def tracedWallMs: Double = roundMs.indices.filter(roundTraced).map(roundMs).sum
    def write(j: Json): Unit = j.obj {
      j.arr("round_ms", roundMs)
      j.arr("round_traced", roundTraced)
      j.key("ops"); j.arrObj(ops) { o =>
        j.field("id", o.id); j.field("round", o.round); j.field("traced", o.traced)
        j.field("name", o.name)
        j.field("ms", o.endMs - o.startMs); j.field("ok", o.ok)
        j.field("records", o.records)
        if (o.error != null) j.field("error", o.error)
      }
    }
  }

  /** With a tracer, rounds 2, 3, 6, 7, 10, 11, … are traced. The first
    * window round is still the slowest while the JIT warms, so it
    * settles outside the U T T U blocks. */
  def traced(round: Int): Boolean = round % 4 == 2 || round % 4 == 3

  def measure(c: Conf, w: Workload, spark: SparkSession, heap: HeapWatch,
      traceWith: Option[Tracer]): Window = {
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val outcomes = mutable.ArrayBuffer.empty[(String, Either[String, Outcome])]
    val schedule = w.schedule(c.seed)
    val start = nowMs()
    val deadline = start + c.seconds * 1000
    var roundStart = start
    val rounds = mutable.ArrayBuffer.empty[Double]
    val roundTraced = mutable.ArrayBuffer.empty[Boolean]
    var round = 0
    // whole rounds only, at least `least`; another starts while it is
    // expected to end by the deadline, so every run sees the same mix.
    // A traced window ends on a whole U T T U block.
    val least = if (traceWith.isDefined) minTracedRounds else minRounds
    while (round < least || (traceWith.isDefined && round % 4 != 1) ||
        roundStart + rounds.last <= deadline) {
      val tracer = traceWith.filter(_ => traced(round))
      tracer.foreach(_.attach())
      val names = schedule(round)
      names.foreach { name =>
        val id = ops.size
        val t0 = nowMs()
        tracer.foreach(_.beginOp(id, t0))
        val res = try Right(w.run(spark, name, id, tracer))
          catch { case scala.util.control.NonFatal(e) =>
            Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        val t1 = res.map(_.doneMs).getOrElse(nowMs())
        tracer.foreach(_.endOp(id, t1))
        ops += OpRecord(id, round, tracer.isDefined, name, t0, t1, res.isRight,
          res.map(_.records).getOrElse(0L), res.left.toOption.orNull)
        outcomes += name -> res
        heap.sample(forceGc = false)
      }
      tracer.foreach(_.detach())
      val now = nowMs()
      rounds += now - roundStart
      roundTraced += tracer.isDefined
      roundStart = now
      round += 1
    }
    Window(rounds.toSeq, roundTraced.toSeq, ops.toSeq, outcomes.toSeq)
  }

  /** Order-insensitive fingerprint of a result: rows rendered with
    * floating-point values to ten significant digits, sorted, hashed. */
  def fingerprint(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else "%.10g".format(d)
      case f: Float => if (f.isNaN) "NaN" else "%.10g".format(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  final case class Checks(mismatched: Int, mismatchedNames: Set[String], dumped: Seq[String])

  def attempt(o: => Outcome): Either[String, Outcome] =
    try Right(o) catch { case scala.util.control.NonFatal(e) => Left(e.toString) }

  /** Compare every outcome with the first successful outcome of the same
    * operation, and write each reference result as parquet for the
    * DuckDB oracle when `dumpDir` is given. */
  def checkAgainstFirst(spark: SparkSession,
      outcomes: Seq[(String, Either[String, Outcome])],
      dumpDir: Option[String]): Checks = {
    val ref = mutable.LinkedHashMap.empty[String, Outcome]
    var bad = 0
    val badNames = mutable.Set.empty[String]
    outcomes.foreach {
      case (name, Right(o)) =>
        ref.get(name) match {
          case None => ref(name) = o
          case Some(r) if r.fingerprint != o.fingerprint => bad += 1; badNames += name
          case _ =>
        }
      case _ =>
    }
    val dumped = dumpDir.toSeq.flatMap { dir =>
      val names = ref.toSeq.map { case (name, o) =>
        spark.createDataFrame(o.rows.toSeq.asJava, o.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
        name
      }
      val sql = SparkEntry.oracleSql
      val j = new Json
      j.obj { names.filter(sql.contains).foreach(n => j.field(n, sql(n))) }
      Files.writeString(Paths.get(dir, "oracle_sql.json"), j.result)
      names
    }
    Checks(bad, badNames.toSet, dumped)
  }

  /** Build the query's frame (operators layer), then materialize every
    * row on the driver (the sink). */
  def runQuery(spark: SparkSession, name: String, dir: String, id: Int,
      tracer: Option[Tracer]): Outcome = {
    val t0 = nowMs()
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    val t1 = nowMs()
    val rows = df.collect()
    val t2 = nowMs()
    tracer.foreach { tr =>
      tr.span(s"op-$id", "operators.construct", Some(s"op-$id"), t0, t1)
      tr.span(s"op-$id", "exec.sink", Some(s"op-$id"), t1, t2)
      tr.markSink(id, t1, t2)
    }
    Outcome(t2, fingerprint(rows), rows, df.schema, 0L)
  }

  def tableRows(dir: String): Map[String, Long] = {
    val props = new String(Files.readAllBytes(Paths.get(dir, "properties.json")), "UTF-8")
    "\"([a-z]+)\": (\\d+)".r.findAllMatchIn(props.split("\"rows\"")(1).takeWhile(_ != '}'))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

/** A workload: its warm-up (part of set-up), its untimed priming pass,
  * its per-round operation schedule, how to run one operation, and how
  * to check the outcomes afterwards. `recordOps` names the operations
  * whose wall is the denominator of `records_per_s`: the records the
  * operations are credited with, per second of those operations. */
trait Workload {
  def recordOps: Seq[String]
  def warmup(spark: SparkSession): Unit
  def prime(spark: SparkSession): Unit
  def schedule(seed: Long): Int => Seq[String]
  def run(spark: SparkSession, name: String, id: Int, tracer: Option[Tracer]): Runner.Outcome
  def check(spark: SparkSession, outcomes: Seq[(String, Either[String, Runner.Outcome])]): Runner.Checks
  def describe: String
}

/** Backup-operator commands at a prompt: a fixed, family-balanced set of
  * Backup, Relational and Streaming-twin queries, each built from the
  * generated tables after the catalog cache is cleared, plus two feed
  * landings through graft's public streaming runners — the durable
  * ledger (`runToParquet`) and the live backup monitor (`runToMemory`,
  * complete mode, state store). A priming pass before the window fills
  * JIT and codegen caches as a long-lived session has them, and its
  * query results are the reference every timed result must match. */
class Interactive(c: Runner.Conf) extends Workload {
  val queries: Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    Seq("b", "q", "s").flatMap { f =>
      val fam = all.filter(_.startsWith(f))
      fam.indices.filter(_ % Interactive.stride == 0).map(fam)
    }
  }
  val requests: Seq[String] = queries ++ Interactive.landings
  /** `records_per_s` is the landings' throughput: feed events landed per
    * second of landing wall. */
  def recordOps: Seq[String] = Interactive.landings
  private val events = Runner.tableRows(c.data)("events")
  private val reference = mutable.ArrayBuffer.empty[(String, Either[String, Runner.Outcome])]

  def warmup(spark: SparkSession): Unit = SparkEntry.queries("q01_agg")(spark, c.data).collect()

  def prime(spark: SparkSession): Unit =
    for (r <- 0 until Interactive.primeRounds; (n, i) <- requests.zipWithIndex)
      reference += n -> Runner.attempt(run(spark, n, -1 - i - r * requests.size, None))

  def schedule(seed: Long): Int => Seq[String] =
    round => new scala.util.Random(seed * 1000003L + round).shuffle(requests)

  def run(spark: SparkSession, name: String, id: Int, tracer: Option[Tracer]): Runner.Outcome = {
    spark.catalog.clearCache()
    if (queries.contains(name)) Runner.runQuery(spark, name, c.data, id, tracer)
    else {
      val t0 = Runner.nowMs()
      val where = s"graftbench_op${if (id < 0) s"p${-id}" else id.toString}"
      val q = name match {
        case "land_ledger" =>
          EventStream.runToParquet(spark, c.data, s"${c.work}/landed/$where", BackupLedger.ledgerOf)
        case "land_backup_monitor" =>
          EventStream.runToMemory(spark, c.data, where, EventStream.backupMonitor, "complete")
      }
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val t1 = Runner.nowMs()
      tracer.foreach { tr =>
        tr.span(s"op-$id", "streaming.run", Some(s"op-$id"), t0, t1)
        tr.markSink(id, t0, t1)
      }
      Runner.Outcome(t1, null, null, null, events, where)
    }
  }

  /** Queries against the priming pass's results (which the DuckDB oracle
    * checks); each landing against its batch twin over the same events —
    * the ledger against `BackupLedger.ledger`, the monitor against s07. */
  def check(spark: SparkSession, outcomes: Seq[(String, Either[String, Runner.Outcome])]): Runner.Checks = {
    val all = reference.toSeq ++ outcomes
    val (landed, answered) = all.partition(o => Interactive.landings.contains(o._1))
    val q = Runner.checkAgainstFirst(spark, answered, Some(s"${c.work}/results"))
    lazy val twin = Map(
      "land_ledger" -> Runner.fingerprint(BackupLedger.ledger(spark, c.data).collect()),
      "land_backup_monitor" ->
        Runner.fingerprint(SparkEntry.queries("s07_backup_monitor")(spark, c.data).collect()))
    val bad = landed.collect { case (name, Right(o)) =>
      val got = if (name == "land_ledger")
        spark.read.parquet(s"${c.work}/landed/${o.landedAt}/batch_*").collect()
      else try spark.table(o.landedAt).collect() finally spark.sql(s"DROP VIEW IF EXISTS ${o.landedAt}")
      name -> (Runner.fingerprint(got) != twin(name))
    }.filter(_._2).map(_._1)
    Runner.Checks(q.mismatched + bad.size, q.mismatchedNames ++ bad, q.dumped)
  }

  def describe: String =
    s"""{"requests": ${requests.map(r => "\"" + r + "\"").mkString("[", ", ", "]")}, "properties": ${
      new String(Files.readAllBytes(Paths.get(c.data, "properties.json")), "UTF-8")}}"""
}
object Interactive {
  val stride = 23
  /** Untimed rounds before the window: the first pays the cold codegen
    * of every request, the second part of the JIT's warm-up. */
  val primeRounds = 2
  val landings: Seq[String] = Seq("land_ledger", "land_backup_monitor")
}

/** A data engineer's curation batch: a fixed pipeline of Dedup,
  * Similarity and Curation stages over one generated corpus in one
  * session. The cache (and with it the gram memo that d02 and d30
  * share) is cleared once per pass, not between stages. */
class CorpusPipeline(c: Runner.Conf) extends Workload {
  val stages: Seq[String] = {
    val byId = SparkEntry.queries.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
    CorpusPipeline.stageIds.map(byId)
  }
  /** `records_per_s` is documents × completed passes per second of
    * pipeline wall. Every pass runs the same stages, so on this workload
    * it is `req_per_s` times documents / stages. */
  def recordOps: Seq[String] = stages
  private val docs = Runner.tableRows(c.data)("documents")
  private val reference = mutable.ArrayBuffer.empty[(String, Either[String, Runner.Outcome])]

  def warmup(spark: SparkSession): Unit =
    SparkEntry.queries("d01_dedup_exact")(spark, c.data).collect()

  /** Untimed passes before the window, as for `Interactive`; the first
    * pass's results are the reference that every later pass must match,
    * and what the DuckDB oracle checks. */
  def prime(spark: SparkSession): Unit =
    for (r <- 0 until Interactive.primeRounds; (n, i) <- stages.zipWithIndex)
      reference += n -> Runner.attempt(run(spark, n, -1 - i - r * stages.size, None))

  def schedule(seed: Long): Int => Seq[String] = _ => stages

  /** The pass's documents are credited when its last stage completes. */
  def run(spark: SparkSession, name: String, id: Int, tracer: Option[Tracer]): Runner.Outcome = {
    if (name == stages.head) spark.catalog.clearCache()
    val o = Runner.runQuery(spark, name, c.data, id, tracer)
    o.copy(records = if (name == stages.last) docs else 0L)
  }

  def check(spark: SparkSession, outcomes: Seq[(String, Either[String, Runner.Outcome])]): Runner.Checks =
    Runner.checkAgainstFirst(spark, reference.toSeq ++ outcomes, Some(s"${c.work}/results"))

  def describe: String =
    s"""{"stages": ${stages.map(r => "\"" + r + "\"").mkString("[", ", ", "]")}, "properties": ${
      new String(Files.readAllBytes(Paths.get(c.data, "properties.json")), "UTF-8")}}"""
}
object CorpusPipeline {
  val stageIds: Seq[String] = Seq("d02", "d30", "d15", "d43")
}

/** Peak driver heap in use after garbage collection: the post-GC usage
  * of each heap pool, summed, sampled after every operation. */
class HeapWatch {
  private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  var peakBytes = 0L
  def sample(forceGc: Boolean): Unit = {
    if (forceGc) System.gc()
    val used = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peakBytes = math.max(peakBytes, used)
  }
}

object Env {
  /** A fixed single-thread CPU probe; its time is an annotation of the
    * machine's state, never a metric. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** Minimal JSON writer for the result file. */
class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb ++= ", "; first = false }
  def key(k: String): Unit = { sep(); sb ++= str(k) ++= ": "; first = true }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }
  def field(k: String, v: Any): Unit = { key(k); sb ++= value(v); first = false }
  def arr(k: String, vs: Iterable[Any]): Unit = { key(k); sb ++= vs.map(value).mkString("[", ", ", "]"); first = false }
  def raw(s: String): Unit = { sb ++= s; first = false }
  def obj(body: => Unit): Unit = {
    if (!first) { sb ++= ", " }
    sb ++= "{"; first = true; body; sb ++= "}"; first = false
  }
  def arrObj[T](xs: Iterable[T])(f: T => Unit): Unit = {
    sb ++= "["
    var firstEl = true
    xs.foreach { x => if (!firstEl) sb ++= ", "; firstEl = false; sb ++= "{"; first = true; f(x); sb ++= "}" }
    sb ++= "]"; first = false
  }
  def result: String = sb.toString
}
