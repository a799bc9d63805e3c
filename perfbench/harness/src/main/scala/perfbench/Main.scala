package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.operators.Flatten
import graft.pipeline.Runner
import graft.queries.SpotifyQueries
import graft.sources.{Archiver, RawJsonReader, Sinks}
import graft.streaming.StreamingLoader

/** JVM side of the pipeline benchmark (driven by `perfbench/run.py`).
  *
  * One Spark session at `local[nproc]` with Bench's perf SQLConf, one
  * closed-loop client. Reads a plan (Java properties) naming the
  * workload, the generated landing files and the run length; sets the
  * workload up several times, runs timed ops for the run length, then —
  * for a traced run — the same ops again under the [[Tracer]]. Writes one
  * JSON result; statistics and the correctness check are done by run.py.
  *
  * An op is one daily cycle of the paper's pipeline over one landing:
  * `Runner.runBatch` (parse → 3 flattens → parquet sinks → archive), one
  * `StreamingLoader.loadSongs` AvailableNow drain, and Q1–Q4 over the
  * batch warehouse. A failed op is counted, never timed.
  */
object Main {
  val SchemaVersion = "perfbench.v1"

  def classic(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  final case class Op(id: Int, wallMs: Double, batchMs: Double, ingestMs: Double,
      analysisMs: Double, items: Long)

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"plan misses $k"))
    val work = new File(p("work"))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${p("nproc")}]")
      // Bench's perf SQLConf, verbatim
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.useV1SourceList", "")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      // keep every file the session writes inside the work dir
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = ms(t0)
    try new Run(spark, p, work, sessionMs).run()
    finally spark.stop()
  }

  /** Session-config fingerprint: every spark.sql.* setting plus the
    * master, minus the per-checkout directories. */
  def fingerprint(spark: SparkSession): String = {
    val conf = spark.conf.getAll.filter { case (k, _) =>
      (k.startsWith("spark.sql.") || k == "spark.master") && !k.endsWith(".dir")
    }.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(conf.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }
}

/** How an op's steps are called: plainly, or decomposed under spans. */
trait Steps {
  def op[T](id: Int)(body: => T): T
  /** The batch step; returns the raw items it read. */
  def batch(landing: String, out: String, processed: String, artistRefs: Long): Long
  def drain(landing: String, out: String, ckpt: String): Unit
  def query[T](name: String)(body: => T): T
}

final class PlainSteps(spark: SparkSession) extends Steps {
  def op[T](id: Int)(body: => T): T = body
  def batch(landing: String, out: String, processed: String, artistRefs: Long): Long =
    Runner.runBatch(spark, landing, out, Some(processed)).songs
  def drain(landing: String, out: String, ckpt: String): Unit = {
    val q = StreamingLoader.loadSongs(spark, landing, out, ckpt)
    q.awaitTermination()
  }
  def query[T](name: String)(body: => T): T = body
}

/** Traced steps. `batch` replays `Runner.runBatch` call by call through
  * the public API (RawJsonReader.read, Flatten.*, Sinks.writeParquet, the
  * re-counts, Archiver.archive) so each layer gets its own span; the raw
  * cache is materialized by one extra count inside `sources.raw_read`
  * so parsing is timed there. [[Run.checkDecomposition]] verifies the
  * replay writes exactly what runBatch writes. */
final class TracedSteps(spark: SparkSession, tracer: Tracer) extends Steps {
  private val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = gc.map(_.getCollectionTime).sum.toDouble
  private def cached = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def op[T](id: Int)(body: => T): T = {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val gc0 = gcMs
    tracer.op(id) {
      val r = body
      tracer.count("jvm.gc_ms", gcMs - gc0)
      tracer.count("spark.cache.mb", cached)
      tracer.count("spark.cache.leaked_rdds",
        (spark.sparkContext.getPersistentRDDs.keySet -- rdds0).size)
      r
    }
  }

  def batch(landing: String, out: String, processed: String, artistRefs: Long): Long =
    tracer.span("pipeline.run_batch") {
      val raw = tracer.span("sources.raw_read") {
        val r = RawJsonReader.read(spark, landing).persist(StorageLevel.MEMORY_AND_DISK)
        tracer.count("sources.raw_read.items", r.count().toDouble)
        r
      }
      val (album, artist, songs) = tracer.span("operators.flatten") {
        (Flatten.albums(raw), Flatten.artists(raw), Flatten.songs(raw))
      }
      tracer.span("sources.write_parquet")(Sinks.writeParquet(album, s"$out/album", partitionCols = Nil))
      tracer.span("sources.write_parquet")(Sinks.writeParquet(artist, s"$out/artist", partitionCols = Nil))
      tracer.span("sources.write_parquet")(
        Sinks.writeParquet(songs, s"$out/songs", partitionCols = Seq("scrape_date")))
      val (nAlbum, nArtist, nSongs) = tracer.span("pipeline.recount") {
        (album.count(), artist.count(), songs.count())
      }
      raw.unpersist()
      val archived = tracer.span("sources.archive")(Archiver.archive(spark, landing, processed))
      tracer.count("sources.archive.files", archived)
      tracer.count("operators.dedup.keep_ratio",
        (nAlbum + nArtist).toDouble / (nSongs + artistRefs))
      nSongs
    }

  def drain(landing: String, out: String, ckpt: String): Unit =
    tracer.span("streaming.drain") {
      val q = StreamingLoader.loadSongs(spark, landing, out, ckpt)
      q.awaitTermination()
      val progress = q.recentProgress
      tracer.count("streaming.drain.batches", progress.count(_.numInputRows > 0))
      tracer.count("streaming.drain.rows", progress.map(_.numInputRows).sum)
      for ((key, metric) <- Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
          "addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
          "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms"))
        tracer.count(s"streaming.$metric",
          progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum)
    }

  def query[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One workload's state: where its landing, warehouse and stream live. */
abstract class Workload(val spark: SparkSession, p: String => String, work: File) {
  val gen = new File(p("landing"))
  val files: Seq[File] = Option(gen.listFiles()).map(_.toSeq).getOrElse(Nil)
    .filter(_.getName.endsWith(".json")).sortBy(_.getName)
  require(files.nonEmpty, s"no landing files under $gen")
  /** Σ len(track.artists) per file, from the generator: the artist
    * dedup's input size, for operators.dedup.keep_ratio. */
  val artistRefs: Map[String, Long] = Files.readAllLines(Paths.get(p("artist_refs"))).asScala
    .map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap
  private val q4Song = p("q4_song")
  var dir: File = _
  /** Files of every runBatch call that wrote the current warehouse. */
  val batches = mutable.ArrayBuffer.empty[Seq[String]]
  /** Set-up sub-step timings of the current rep, by name. */
  val staging = mutable.LinkedHashMap.empty[String, Double]

  def path(name: String): String = new File(dir, name).getPath
  def setUp(rep: Int): Unit
  def op(id: Int, steps: Steps): Main.Op

  protected def fresh(name: String): File = {
    dir = new File(work, name)
    Run.delete(dir)
    dir.mkdirs()
    batches.clear()
    staging.clear()
    dir
  }

  protected def land(fs: Seq[File], into: String): Unit = {
    val d = new File(into)
    d.mkdirs()
    fs.foreach { f =>
      val to = new File(d, f.getName).toPath
      try Files.createLink(to, f.toPath)
      catch { case _: UnsupportedOperationException | _: java.io.IOException => Files.copy(f.toPath, to) }
    }
  }

  /** The timed part of an op. */
  protected def cycle(id: Int, steps: Steps, batchFiles: Seq[File], streamLanding: String): Main.Op =
    steps.op(id) {
      val refs = batchFiles.map(f => artistRefs.getOrElse(f.getName, 0L)).sum
      val t0 = System.nanoTime()
      val items = steps.batch(path("landing"), path("out"), path("processed"), refs)
      val t1 = System.nanoTime()
      steps.drain(streamLanding, path("stream_out"), path("checkpoint"))
      val t2 = System.nanoTime()
      analysis(steps)
      val t3 = System.nanoTime()
      batches += batchFiles.map(_.getName)
      Main.Op(id, (t3 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, items)
    }

  private def tables(): (DataFrame, DataFrame, DataFrame) = (
    spark.read.parquet(path("out/album")), spark.read.parquet(path("out/artist")),
    spark.read.parquet(path("out/songs")))

  /** Q1–Q4 by name, each built only when called. */
  private def queries(tbl: (DataFrame, DataFrame, DataFrame)): Seq[(String, () => DataFrame)] = {
    val (album, artist, songs) = tbl
    Seq("q1" -> (() => SpotifyQueries.q1Trending(songs)),
        "q2" -> (() => SpotifyQueries.q2AlbumPopularity(songs, album)),
        "q3" -> (() => SpotifyQueries.q3TopArtists(songs, artist)),
        "q4" -> (() => SpotifyQueries.q4ChartMovement(songs, q4Song)))
  }

  private def analysis(steps: Steps): Unit =
    queries(steps.query("queries.spotify.tables")(tables())).foreach { case (n, q) =>
      steps.query(s"queries.spotify.$n")(q().collect())
    }

  /** Q1–Q4 over the current warehouse as JSON lines, for the check. */
  def dumpQueries(into: File): Unit = {
    into.mkdirs()
    queries(tables()).foreach { case (n, q) =>
      Files.write(new File(into, s"$n.jsonl").toPath, q().toJSON.collect().toSeq.asJava)
    }
  }
}

/** The paper's traffic: set-up seeds a warehouse and a stream
  * checkpoint with `history_days` of history; each op lands the next day
  * and runs the daily cycle on it. The stream's landing dir keeps every
  * day; its checkpoint persists. */
final class DailyCycle(spark: SparkSession, p: String => String, work: File)
    extends Workload(spark, p, work) {
  private val historyDays = p("history_days").toInt
  private val history = files.take(historyDays)
  private val pending = files.drop(historyDays)
  private var next = 0

  def setUp(rep: Int): Unit = {
    fresh(s"daily_cycle$rep")
    val plain = new PlainSteps(spark)
    land(history, path("landing"))
    land(history, path("stream_landing"))
    var t = System.nanoTime()
    plain.batch(path("landing"), path("out"), path("processed"), 0)
    batches += history.map(_.getName)
    staging("seed_batch_ms") = Main.ms(t)
    t = System.nanoTime()
    plain.drain(path("stream_landing"), path("stream_out"), path("checkpoint"))
    staging("seed_drain_ms") = Main.ms(t)
    next = 0
  }

  def op(id: Int, steps: Steps): Main.Op = {
    require(next < pending.size, "the generator landed too few days for this run")
    val day = pending(next)
    next += 1
    land(Seq(day), path("landing"))
    land(Seq(day), path("stream_landing"))
    cycle(id, steps, Seq(day), path("stream_landing"))
  }
}

/** A backfill: each op runs the cycle over the whole multi-day landing,
  * into an empty warehouse and a fresh stream checkpoint. */
final class Backfill(spark: SparkSession, p: String => String, work: File)
    extends Workload(spark, p, work) {
  def setUp(rep: Int): Unit = {
    fresh(s"backfill$rep")
    land(files, path("landing"))
    val t = System.nanoTime()
    new PlainSteps(spark).batch(path("landing"), path("out"), path("processed"), 0)
    batches += files.map(_.getName)
    staging("seed_batch_ms") = Main.ms(t)
  }

  def op(id: Int, steps: Steps): Main.Op = {
    Seq("landing", "out", "processed", "stream_out", "checkpoint")
      .foreach(n => Run.delete(new File(path(n))))
    batches.clear()
    land(files, path("landing"))
    cycle(id, steps, files, gen.getPath)
  }
}

final class Run(spark: SparkSession, p: String => String, work: File, sessionMs: Double) {
  import Main._

  private val workload: Workload = p("workload") match {
    case "daily_cycle" => new DailyCycle(spark, p, work)
    case "backfill" => new Backfill(spark, p, work)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private val errors = mutable.ArrayBuffer.empty[String]

  def run(): Unit = {
    val seconds = p("seconds").toDouble
    val staging = mutable.ArrayBuffer.empty[Map[String, Double]]
    val setupMs = (0 until p("setup_reps").toInt).map { r =>
      val t = System.nanoTime()
      workload.setUp(r)
      staging += workload.staging.toMap
      ms(t)
    }
    // Warm-up ops in the last rep's state, untimed, until op times settle:
    // at least two, then until an op is no longer 5% faster than the one
    // before (JIT still compiling), at most four or 16 s.
    val warm = mutable.ArrayBuffer.empty[Double]
    val t = System.nanoTime()
    while (warm.size < 2 || (warm.size < 4 && ms(t) < 16000 &&
        warm.last < 0.95 * warm(warm.size - 2)))
      warm += workload.op(-1 - warm.size, new PlainSteps(spark)).wallMs
    val warmupMs = ms(t)
    val floorMs = jobFloor()

    val (ops, failed) = timed(new PlainSteps(spark), seconds)
    val peakHeapMb = retainedHeapMb.max
    retainedHeapMb.clear()

    val traced = p("trace") == "1"
    val (tracedOps, tracedFailed, layers, decompositionOk) =
      if (!traced) (Nil, 0, Nil, true)
      else {
        val tracer = new Tracer(spark)
        tracer.start()
        val (tOps, tFailed) = timed(new TracedSteps(spark, tracer), seconds)
        tracer.stop()
        (tOps, tFailed, tracer.perOp().filter(_._1 >= 0).map(_._2), checkDecomposition())
      }

    val checkDir = new File(work, "check")
    Run.delete(checkDir)
    workload.dumpQueries(checkDir)

    val json = Json.obj(
      "identity" -> Json.obj(
        "schema_version" -> SchemaVersion,
        "session_fingerprint" -> fingerprint(spark),
        "spark_version" -> spark.version,
        "nproc" -> p("nproc").toInt,
        "heap" -> p("heap"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "session_ms" -> sessionMs,
      "setup_ms" -> setupMs,
      "staging" -> staging.toSeq,
      "warmup_ms" -> warmupMs,
      "warmup_ops" -> warm.toSeq,
      "job_floor_ms" -> floorMs,
      "ops" -> ops.map(opJson),
      "failed" -> failed,
      "peak_heap_mb" -> peakHeapMb,
      "traced_ops" -> tracedOps.map(opJson),
      "traced_failed" -> tracedFailed,
      "layers" -> layers,
      "decomposition_ok" -> decompositionOk,
      "batches" -> workload.batches.toSeq,
      "warehouse" -> workload.path("out"),
      "stream_out" -> workload.path("stream_out"),
      "queries" -> checkDir.getPath,
      "errors" -> errors.toSeq)
    Files.writeString(Paths.get(p("result")), Json.render(json))
  }

  private def opJson(o: Op) = Json.obj("id" -> o.id, "wall_ms" -> o.wallMs,
    "batch_ms" -> o.batchMs, "ingest_ms" -> o.ingestMs, "analysis_ms" -> o.analysisMs,
    "items" -> o.items)

  /** Closed loop: the next op starts when the previous one ends, until
    * `seconds` have passed (or three ops have failed). */
  private def timed(steps: Steps, seconds: Double): (Seq[Op], Int) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var failed = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds && failed < 3) {
      try {
        ops += workload.op(ops.size + failed, steps)
        retainedHeapMb += heapAfterGcMb()
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"op ${ops.size + failed - 1}: $e"
          System.err.println(s"[perfbench] op failed: $e")
      }
    }
    (ops.toSeq, failed)
  }

  private val retainedHeapMb = mutable.ArrayBuffer.empty[Double]

  /** Heap still in use after a full collection, between ops (untimed). */
  private def heapAfterGcMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** Per-job scheduling floor: median wall of a no-work one-task-per-core job. */
  private def jobFloor(): Double = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    val times = (0 until 15).map { _ =>
      val t = System.nanoTime()
      sc.parallelize(0 until n, n).count()
      ms(t)
    }.drop(3).sorted
    times(times.size / 2)
  }

  /** Replays the traced decomposition and `Runner.runBatch` on the same
    * landing files and compares the three tables row for row. */
  private def checkDecomposition(): Boolean = try {
    val input = workload.batches.last
    val base = new File(work, "decomposition")
    Run.delete(base)
    def prepare(name: String): String = {
      val d = new File(base, s"$name/landing")
      d.mkdirs()
      input.foreach(f => Files.copy(new File(workload.gen, f).toPath, new File(d, f).toPath))
      new File(base, name).getPath
    }
    val a = prepare("traced")
    val b = prepare("runbatch")
    val tracer = new Tracer(spark)
    new TracedSteps(spark, tracer).batch(s"$a/landing", s"$a/out", s"$a/processed", 1)
    Runner.runBatch(spark, s"$b/landing", s"$b/out", Some(s"$b/processed"))
    Seq("album", "artist", "songs").forall { t =>
      val x = spark.read.parquet(s"$a/out/$t")
      val y = spark.read.parquet(s"$b/out/$t")
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    } && new File(s"$a/processed").list().toSet == new File(s"$b/processed").list().toSet
  } catch {
    case NonFatal(e) =>
      errors += s"decomposition check: $e"
      false
  }
}

object Run {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
}
