package perfbench

import graft.log.{ConsumerGroups, LogMetadata, PolarLog, TopicConfig}
import graft.serving.{PolarBinaryServer, PolarHttpServer}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/**
 * The process under test. It hosts the library in one Spark session and
 * answers one-line commands from the benchmark's generator (`run.py`) on
 * stdin, replying with one `@ {json}` line each on stdout. The load itself
 * comes from the generator over the serving façade's sockets; this side
 * only starts servers, runs gates, checks outputs and reports per-layer
 * numbers.
 *
 * Usage: `perfbench.Harness <trace 0|1>`
 */
object Harness {

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private var http: Option[PolarHttpServer] = None
  private var binary: Option[PolarBinaryServer] = None

  def main(args: Array[String]): Unit = {
    val traced = args.headOption.contains("1")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val b = graft.GraftSession.builder(master = s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    // the tracer attributes jobs by the submitting stack in their call site
    if (traced) System.setProperty("spark.callstack.depth", "200")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamListener)
      tracer = Some(t)
    }
    reply(Map("ready" -> true, "pid" -> ProcessHandle.current.pid))

    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val words = line.trim.split(" ").toSeq
      val out =
        try handle(words.head, words.tail)
        catch { case e: Throwable =>
          e.printStackTrace()
          Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      reply(out)
      line = in.readLine()
    }
    stopServers()
    spark.stop()
  }

  private def now(): Long = System.currentTimeMillis()

  private def timedMs(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }

  private def handle(cmd: String, a: Seq[String]): Map[String, Any] = cmd match {
    case "serve" =>
      // a fresh root per call: the façade, its coalescer and the binary
      // transport sharing it, exactly as a deployment wires them
      stopServers()
      val h = new PolarHttpServer(spark, a(0)).start()
      val bin = new PolarBinaryServer(spark, a(0), sharedCoalescer = Some(h.coalescer)).start()
      http = Some(h)
      binary = Some(bin)
      Map("http" -> h.boundPort, "binary" -> bin.boundPort)
    case "unserve" =>
      stopServers(); Map("ok" -> true)
    case "mark" =>
      Map("ms" -> now(), "flushes" -> http.map(_.flushCount).getOrElse(0L))
    case "summary" =>
      tracer.map(_.summary(a(0).toLong, a(1).toLong)).getOrElse(Map.empty)
    case "check_log" => checkLog(TopicConfig(a(0), a(1)), a(2).toLong)
    case "probe_log" => probeLog(TopicConfig(a(0), a(1)), a(2).toInt, a(3).toLong)
    case "analytics_setup" =>
      graft.queries.SharedTopics.eventsProps(spark, a(0)): Unit
      graft.queries.SharedTopics.segmentedEvents(spark, a(0)): Unit
      graft.Materialize.sweep(spark)
      Map("ok" -> true)
    case "gates" => runGates(a(0), a(1).split(",").toSeq)
    case "verify" => dumpGates(a(0), a(1), a(2).split(",").toSeq)
    case "jvm" =>
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      Map("gc_ms" -> gcMs, "heap_peak_mb" -> heapPeak / 1048576.0)
    case other => Map("error" -> s"unknown command $other")
  }

  private def stopServers(): Unit = {
    binary.foreach(_.stop()); binary = None
    http.foreach(_.stop()); http = None
  }

  /** Ingest correctness, outside the timed window: the log holds exactly
    * the acknowledged records, once each; offsets are dense from 0 in
    * every partition; each key's records sit in send order (the payload's
    * `id` is the generator's per-key-monotone sequence number). */
  private def checkLog(cfg: TopicConfig, acked: Long): Map[String, Any] = {
    val rows = PolarLog.consume(spark, cfg)
      .select(col("part"), col("offset"), col("partitionKey"),
        get_json_object(col("value").cast(StringType), "$.id").cast(LongType))
      .collect()
    val errors = Seq.newBuilder[String]
    if (rows.length != acked) errors += s"log holds ${rows.length} records, $acked acknowledged"
    val ids = rows.map(r => if (r.isNullAt(3)) -1L else r.getLong(3))
    if (ids.contains(-1L) || ids.distinct.length != ids.length)
      errors += "record ids missing or duplicated in the log"
    val sparse = rows.groupMapReduce(_.getInt(0))(r => (1L, r.getLong(1), r.getLong(1))) {
      case ((n1, lo1, hi1), (n2, lo2, hi2)) => (n1 + n2, lo1 min lo2, hi1 max hi2)
    }.collect { case (p, (n, lo, hi)) if lo != 0 || hi != n - 1 => p }
    // with no duplicate (part, offset) pairs, lo 0 and hi n-1 mean dense
    val pairs = rows.map(r => (r.getInt(0), r.getLong(1)))
    if (sparse.nonEmpty || pairs.distinct.length != pairs.length)
      errors += s"offsets not dense in partitions ${sparse.toSeq.sorted.mkString(",")}"
    val disordered = rows.filter(!_.isNullAt(2)).groupBy(_.getString(2)).count { case (_, rs) =>
      val inOffsetOrder = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      inOffsetOrder.toSeq != inOffsetOrder.sorted.toSeq
    }
    if (disordered > 0) errors += s"$disordered keys out of send order"
    Map("ok" -> errors.result().isEmpty, "records" -> rows.length, "errors" -> errors.result())
  }

  /** Direct calls into the log layer, timed from outside: a produce of the
    * median flush size into a side topic, a metadata read and a group
    * commit on the workload's topic, and the topic's on-disk shape. */
  private def probeLog(cfg: TopicConfig, flushRecords: Int, seed: Long): Map[String, Any] = {
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val meta = LogMetadata.read(cfg)
    val readMs = median((1 to 15).map(_ => timedMs(LogMetadata.read(cfg))))
    val files = meta.files
    val fs = new java.io.File(cfg.dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val all = walk(fs)
    val docBytes = all.filter(f => f.getName.startsWith("_polar_metadata") ||
      f.getParentFile.getName.contains("manifest")).map(_.length).sum
    val probeCfg = TopicConfig(cfg.root, "probe_produce")
    val rnd = new java.util.Random(seed)
    val schema = StructType(Seq(StructField("partitionKey", StringType),
      StructField("timestamp", TimestampType), StructField("value", BinaryType)))
    val n = math.max(1, flushRecords)
    val produceMs = (1 to 5).map { _ =>
      val rows = (0 until n).map { i =>
        val v = new Array[Byte](1024); rnd.nextBytes(v)
        Row(if (i % 2 == 0) s"k${rnd.nextInt(1000)}" else null,
          new java.sql.Timestamp(System.currentTimeMillis()), v)
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      timedMs(PolarLog.produce(df, probeCfg))
    }
    val tails = PolarLog.tails(cfg)
    val commitMs = (1 to 15).map(_ =>
      timedMs(ConsumerGroups.commitPartial(cfg, "probe_group", tails)))
    Map("produce_ms_p50" -> median(produceMs), "meta_read_ms" -> readMs,
      "segments_total" -> files.size,
      "records_total" -> files.map(_.count).sum,
      "data_bytes" -> files.map(_.bytes).sum,
      "meta_doc_kb" -> docBytes / 1024.0,
      "commit_ms_p50" -> median(commitMs))
  }

  /** One pass over `names`: each gate forced with count(), the session
    * swept between gates (as the gate battery does), each gate timed. */
  private def runGates(dir: String, names: Seq[String]): Map[String, Any] = {
    val times = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val err = try { fn(spark, dir).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
      val s = (System.nanoTime() - t0) / 1e9
      graft.Materialize.sweep(spark)
      (name, s, err)
    }
    Map("times" -> times.map(t => t._1 -> t._2).toMap,
      "errors" -> times.flatMap(_._3))
  }

  /** Gate outputs and their oracle SQL in the layout the DuckDB oracle
    * checker reads: one parquet dump per gate plus `oracle_sql.json`. */
  private def dumpGates(dir: String, out: String, names: Seq[String]): Map[String, Any] = {
    val only = Some(names.toSet)
    new java.io.File(out).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      graft.Verify.oracleJson(only))
    val errors = names.flatMap { name =>
      val r = try {
        graft.SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$name")
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
      graft.Materialize.sweep(spark)
      r
    }
    Map("errors" -> errors)
  }

  private def reply(m: Map[String, Any]): Unit = {
    val s = "@ " + Json.render(m)
    System.out.println(s)
    System.out.flush()
  }
}

/** Minimal JSON rendering for the reply lines (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.functions.JsonText.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => render(other.toString)
  }
}
