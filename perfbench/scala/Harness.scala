package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, Tables}
import graft.imdb.{BuildBench, ImdbDataset, Pimdb, TsvWriter}

/** JVM side of the benchmark. It calls the program only through its
  * public entry points and writes what it saw as JSON lines to `--out`;
  * `run.py` turns those lines into metrics and checks them.
  *
  * Modes:
  *  - `gen --dir D --titles N`: the BuildBench corpus shape, seed-free;
  *  - `imdb`: transfer → build → closed query loop over a corpus;
  *  - `gates`: seed-shuffled passes over a fixed panel of gates.
  *
  * Every timestamp written is epoch milliseconds, the clock Spark's
  * listener events use, so spans and listener intervals line up.
  */
object Harness {

  private val t0Epoch = System.currentTimeMillis()
  private val t0Nano = System.nanoTime()
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads (tasks, driver, GC, JIT). */
  def cpu(): Double = os.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new Out
    out.put("boot", "t" -> t0Epoch.toDouble)
    val mode = opts("mode")
    val spark = GraftSession.localBuilder(opts("cpus")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.BoundedWindow.quietBoundedWarnings()
    out.put("session", "t" -> now())
    out.put("memory", "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "storage_max_mb" -> spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6)
    val trace = opts.getOrElse("trace", "0") == "1"
    val recorder = if (trace) Some(Recorder.attach(spark, out)) else None
    val heap = new HeapWatch(out)
    try mode match {
      case "gen" =>
        val rows = BuildBench.generate(spark, Paths.get(opts("dir")), opts("titles").toLong)
        rows.foreach { case (d, n) => out.put("gen", "dataset" -> d, "rows" -> n) }
      case "imdb" => new ImdbRun(spark, opts, out, trace).run()
      case "gates" => new GatesRun(spark, opts, out).run()
    } finally {
      spark.stop() // drains the listener bus before the events are written
      recorder.foreach(_.flush())
      heap.flush()
      out.put("end", "t" -> now())
      out.writeTo(opts("out"))
    }
  }

  /** Bench's fixed CPU probe (range → xxhash64 → bit_xor) at a tenth of
    * its size, best of two: context for which box a record ran on, not
    * a metric. */
  def probe(spark: SparkSession, cpus: Int): Double = (1 to 2).map { _ =>
    val t = now()
    spark.range(0L, graft.Bench.ProbeRowsPerCore / 10 * cpus, 1L, cpus)
      .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    (now() - t) / 1e3
  }.min
}

/** In-memory event log, written once when the run ends. */
final class Out {
  private val lines = mutable.ArrayBuffer.empty[String]
  private var nextSpan = 0
  private var open = List.empty[Int]

  def put(kind: String, fields: (String, Any)*): Unit = synchronized {
    lines += (("k" -> kind) +: fields).map { case (k, v) => Out.str(k) + ":" + Out.value(v) }
      .mkString("{", ",", "}")
  }

  /** A span around `f`: name, start, end and the enclosing span. */
  def span[T](name: String, attrs: (String, Any)*)(f: => T): T = {
    val id = synchronized { nextSpan += 1; nextSpan }
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val t0 = Harness.now()
    try f
    finally {
      open = open.tail
      put("span", (Seq("id" -> id, "parent" -> parent, "name" -> name,
        "t0" -> t0, "t1" -> Harness.now()) ++ attrs): _*)
    }
  }

  def writeTo(path: String): Unit =
    Files.write(Paths.get(path), lines.synchronized(lines.mkString("", "\n", "\n")).getBytes(UTF_8))
}

object Out {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case null | None => "null"
    case Some(x) => value(x)
    case x => str(x.toString)
  }
}

/** `TsvWriter.stream`'s target: counts rows and sums a 64-bit MD5 prefix
  * of each data line, an order-insensitive hash `run.py` recomputes
  * over DuckDB's answer. The header line is skipped. */
final class HashingSink extends java.io.Writer {
  private val md = java.security.MessageDigest.getInstance("MD5")
  private val line = new java.lang.StringBuilder
  private var header = true
  var rows = 0L
  var hash = 0L

  override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
    var i = off
    while (i < off + len) {
      val c = cbuf(i)
      if (c == '\n') endLine() else line.append(c)
      i += 1
    }
  }

  private def endLine(): Unit = {
    if (header) header = false
    else {
      rows += 1
      hash += java.nio.ByteBuffer.wrap(md.digest(line.toString.getBytes(UTF_8))).getLong
    }
    line.setLength(0)
  }

  override def flush(): Unit = ()
  override def close(): Unit = ()
  def hex: String = java.lang.Long.toUnsignedString(hash)
}

/** Largest heap occupancy right after a GC, from GarbageCollectorMXBean
  * notifications, kept per window so warm-up and checks can be excluded. */
final class HeapWatch(out: Out) {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val samples = mutable.ArrayBuffer.empty[(Double, Double)]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        samples.synchronized(samples += ((Harness.now(), used / 1e6)))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def flush(): Unit = samples.synchronized(samples.toList).foreach { case (t, mb) =>
    out.put("gc", "t" -> t, "live_mb" -> mb)
  }
}

final class ImdbRun(spark: SparkSession, opts: Map[String, String], out: Out,
    trace: Boolean) {
  private val cpus = opts("cpus").toInt
  private val work = opts("work")

  /** (class, sql) per line of the seeded query file. */
  private val queries: Vector[(String, String)] =
    Files.readAllLines(Paths.get(opts("queries")), UTF_8).asScala.toVector
      .filter(_.nonEmpty).map { l => val Array(c, q) = l.split("\t", 2); (c, q) }

  private def pipeline(corpus: String, wh: String, nQueries: Int, timed: Boolean): Pimdb = {
    val p = Pimdb(spark)
    out.span("transfer") {
      if (trace && timed) ImdbDataset.all.foreach { d =>
        out.span(s"transfer.${d.tableName}")(p.transfer(corpus, Seq(d), Some(wh)))
      }
      else p.transfer(corpus, warehouse = Some(wh))
    }
    out.span("build")(p.build(Some(wh)))
    queries.take(nQueries).foreach { case (_, q) => TsvWriter.stream(p.query(q), new HashingSink) }
    p
  }

  def run(): Unit = {
    val seconds = opts("seconds").toDouble
    // a tiny corpus through the same three verbs, so JIT and first-use
    // costs land in set-up
    (1 to opts("warmups").toInt).foreach { i =>
      out.span("warmup", "i" -> i)(pipeline(opts("tiny"), s"$work/warmup$i", queries.length min 16, timed = false))
    }
    out.put("probe", "when" -> "before", "s" -> Harness.probe(spark, cpus))
    out.put("measure", "t" -> Harness.now(), "cpu" -> Harness.cpu())
    val wh = s"$work/warehouse"
    val p = pipeline(opts("corpus"), wh, 0, timed = true)
    out.put("pipeline_end", "cpu" -> Harness.cpu())
    val loopStart = Harness.now()
    var i = 0
    while (Harness.now() - loopStart < seconds * 1e3) {
      val (cls, sql) = queries(i % queries.length)
      val sink = new HashingSink
      val t = Harness.now()
      var ok = true
      try out.span("query", "i" -> i, "cls" -> cls) {
        val df = p.query(sql)
        if (trace) {
          out.span("query.plan")(df.queryExecution.executedPlan)
          out.span("query.exec")(TsvWriter.stream(df, sink))
          scanStats(df)
        } else TsvWriter.stream(df, sink)
      } catch {
        case e: Exception => ok = false; out.put("error", "i" -> i, "msg" -> String.valueOf(e.getMessage))
      }
      out.put("op", "i" -> i, "q" -> (i % queries.length), "cls" -> cls, "ok" -> ok,
        "ms" -> (Harness.now() - t), "rows" -> sink.rows, "hash" -> sink.hex)
      i += 1
    }
    out.put("measure_end", "t" -> Harness.now())
    out.put("probe", "when" -> "after", "s" -> Harness.probe(spark, cpus))
    // output checks, outside the timed region; run.py counts the
    // warehouse tables
    out.put("dups", "counts" -> p.transferDuplicateCounts)
    out.put("warnings", "list" -> p.buildWarnings)
  }

  /** Files and bytes the query's scans read, from the executed plan's
    * scan metrics (AQE stages included). */
  private def scanStats(df: DataFrame): Unit = {
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val scans = H.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s if s.metrics.contains("numFiles") => s.metrics
    }
    def sum(key: String) = scans.flatMap(_.get(key)).map(_.value).sum
    out.put("scan", "files" -> sum("numFiles"), "bytes" -> sum("filesSize"))
  }
}

final class GatesRun(spark: SparkSession, opts: Map[String, String], out: Out) {
  import graft.operators._
  private val cpus = opts("cpus").toInt
  private val sf = opts("sf")

  private val families: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "Relational" -> Relational.all, "Analytics" -> Analytics.all,
    "EventAnalytics" -> EventAnalytics.all, "Profiler" -> Profiler.all,
    "TextOps" -> TextOps.all, "CurationOps" -> CurationOps.all,
    "DedupOps" -> DedupOps.all, "SimilarityOps" -> SimilarityOps.all,
    "SkewJoin" -> SkewJoin.all, "Multimodal" -> Multimodal.all,
    "StreamingOps" -> StreamingOps.all, "ZOrder" -> ZOrder.all,
    "WarehouseOps" -> WarehouseOps.all)
  private val family: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  private val oracle: Map[String, String] = graft.SparkEntry.oracleSql

  /** Bench's quiesce between gates. */
  private def quiesce(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.streams.active.foreach(_.stop())
    System.gc()
  }

  def run(): Unit = {
    val seconds = opts("seconds").toDouble
    val seed = opts("seed").toLong
    val panel = opts("gates").split(',').toVector
    val gates = graft.SparkEntry.queries
    out.put("registry", "n" -> gates.size, "families" -> families.map(_._1))
    (1 to opts("warmups").toInt).foreach { i =>
      out.span("warmup", "i" -> i) {
        Tables.names.foreach(n => Tables(spark, sf, n).limit(1).write.format("noop").mode("overwrite").save())
      }
    }
    // the output check, outside the timed region and also the per-gate
    // warm-up: collect() materializes every output column, as the noop
    // sink does; run.py compares the row counts against the oracle
    panel.foreach { g =>
      val rows = try gates(g)(spark, sf).collect().length.toLong catch {
        case e: Exception => out.put("error", "gate" -> g, "msg" -> String.valueOf(e.getMessage)); -1L
      }
      out.put("check", "gate" -> g, "family" -> family(g), "rows" -> rows,
        "oracle" -> oracle.get(g), "stream" -> graft.Bench.isStream(g))
      quiesce()
    }
    out.put("probe", "when" -> "before", "s" -> Harness.probe(spark, cpus))
    out.put("measure", "t" -> Harness.now())
    val start = Harness.now()
    var pass = 0
    // at least two passes, so each gate's fastest pass is a choice
    while (pass < 2 || Harness.now() - start < seconds * 1e3) {
      pass += 1
      new scala.util.Random(seed * 1000 + pass).shuffle(panel).foreach { g =>
        val t = Harness.now()
        val c = Harness.cpu()
        val ok = try out.span("gate", "gate" -> g, "family" -> family(g), "pass" -> pass) {
          gates(g)(spark, sf).write.format("noop").mode("overwrite").save(); true
        } catch {
          case e: Exception => out.put("error", "gate" -> g, "msg" -> String.valueOf(e.getMessage)); false
        }
        out.put("op", "gate" -> g, "pass" -> pass, "ok" -> ok, "ms" -> (Harness.now() - t),
          "cpu" -> (Harness.cpu() - c), "stream" -> graft.Bench.isStream(g), "family" -> family(g))
        quiesce()
      }
    }
    out.put("measure_end", "t" -> Harness.now())
    out.put("probe", "when" -> "after", "s" -> Harness.probe(spark, cpus))
  }
}
