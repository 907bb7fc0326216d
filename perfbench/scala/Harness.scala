package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.{Caches, Sentinels, SparkEntry, Tables}
import graft.operators.{Relational, VectorOps}
import graft.sinks.TableWriter
import graft.streaming.OrderFold
import graft.streaming.OrderFold.{OrderDecision, StockRequest}

/** JVM side of the benchmark: runs one workload against graft's public
  * functions and writes what it observed into the run directory.
  *
  *   Harness <workload> <runDir> <sfDir> <seconds> <trace 0|1> <launchEpochMs> <block> <warmDir>
  *
  * `block` is serve_write's block size; `warmDir` holds the small
  * tables (sf0.001) the deck's warm-up pass runs on.
  *
  * Reads `<runDir>/requests.jsonl` (made by traffic.py; serve_write
  * only) and writes `responses.jsonl` (one line per timed or warm-up
  * operation, with the rows it returned), `summary.json`, `oracle_sql.json`
  * and, when tracing, `spans.jsonl`. Correctness is judged afterwards by
  * oracle.py, outside the timed region.
  */
object Harness {
  /** The offline deck: graph part first, then the corpus part. */
  val graphDeck = Seq("g_pagerank")
  val corpusDeck = Seq("d_minhash_lsh", "p_corpus_clean")
  /** Contract entries whose oracle SQL shapes the serve checks. */
  val serveEntries = Seq("q_check_stock", "q_product_search", "q_fuzzy_search",
    "q_product_bm25", "q_category_search", "q_product_by_sku", "q_user_orders",
    "q_cancel_eligible", "v_cosine_topk")

  private val mapper = new ObjectMapper()

  /** One finished operation: a serve request or a deck entry. */
  final case class Done(id: Int, group: String, op: String, warmup: Boolean,
      t0Us: Long, t1Us: Long, error: Option[String], cols: Seq[String],
      rows: Array[Seq[Any]], storageBytes: Long, codegen: Long)

  def main(args: Array[String]): Unit = {
    val Array(workload, runDirS, sfDir, secondsS, traceS, launchMsS, blockS, warmDir) = args
    val block = blockS.toInt
    val runDir = Paths.get(runDirS)
    val seconds = secondsS.toDouble
    val launchMs = launchMsS.toLong
    val cpus = Runtime.getRuntime.availableProcessors
    val tr = new Trace(traceS == "1")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    val mark = scala.collection.mutable.LinkedHashMap[String, Long]()
    mark("session") = System.currentTimeMillis() - launchMs
    sc.setLogLevel("ERROR")
    sc.setCheckpointDir(runDir.resolve("checkpoint").toString)
    // untraced, only serve_write needs the listener (its write stats)
    if (tr.on || workload == "serve_write") sc.addSparkListener(tr.sparkListener)

    val summary = scala.collection.mutable.LinkedHashMap[String, Any]()
    summary("workload") = workload
    summary("nproc") = cpus
    summary("heap_mb") = Runtime.getRuntime.maxMemory / (1L << 20)
    summary("jdk") = System.getProperty("java.version")
    summary("jvm") = System.getProperty("java.vm.name")
    summary("spark") = spark.version
    summary("scala") = scala.util.Properties.versionNumberString
    writeOracleSql(runDir.resolve("oracle_sql.json"))

    // The sentinels bracket the timed window: read once just before it
    // (after set-up, so Spark is warm) and once after. Their time is left
    // out of setup_s.
    var sentinelS = 0.0
    lazy val mem = new Sentinels.Mem(256, cpus)
    def sentinels(when: String): Unit = {
      val t0 = System.nanoTime()
      if (when == "pre") { Sentinels.cpu(spark); mem.run() } // first runs pay compile and fill
      summary(s"sentinel_cpu_${when}_s") = Sentinels.cpu(spark)
      summary(s"sentinel_mem_${when}_s") = mem.run()
      sentinelS += (System.nanoTime() - t0) / 1e9
    }

    val persisted0 = () => sc.getPersistentRDDs.size
    val done = ArrayBuffer[Done]()
    var firstOpMs = 0L
    var loopS = 0.0

    def storageBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    workload match {
      case "batch_deck" =>
        // set-up: one untimed call of every deck entry on the small
        // warm-up tables, so the timed pass runs warm code paths
        (graphDeck ++ corpusDeck).foreach { name =>
          SparkEntry.queries(name)(spark, warmDir).write.format("noop").mode("overwrite").save()
          Caches.clearAll(spark)
          mark(s"warm_$name") = System.currentTimeMillis() - launchMs
        }
        summary("codegen_setup") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        summary("persisted_rdds_start") = persisted0()
        sentinels("pre")
        firstOpMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val deadline = t0 + (seconds * 1e9).toLong
        var pass = 0
        do {
          (graphDeck ++ corpusDeck).foreach { name =>
            val id = done.size
            val group = s"deck-$pass-$name"
            sc.setJobGroup(group, name, interruptOnCancel = false)
            val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val out = runDir.resolve("out").resolve(s"$pass").resolve(name).toString
            val s0 = tr.nowUs
            val err = try {
              val df = tr.span(group, group, s"$group.call", "operator") {
                SparkEntry.queries(name)(spark, sfDir)
              }
              tr.span(group, group, s"$group.mat", "materialise") {
                df.write.mode("overwrite").parquet(out)
              }
              None
            } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
            val s1 = tr.nowUs
            tr.add(tr.Span(group, "", group, "request", s0, s1))
            sc.clearJobGroup()
            done += Done(id, group, name, false, s0, s1, err, Seq(out), Array.empty,
              storageBytes(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
            Caches.clearAll(spark)
          }
          pass += 1
        } while (System.nanoTime() < deadline)
        loopS = (System.nanoTime() - t0) / 1e9
        summary("deck_graph") = graphDeck
        summary("deck_corpus") = corpusDeck
        summary("passes") = pass

      case "serve_write" =>
        val reqs = Files.readAllLines(runDir.resolve("requests.jsonl")).asScala
          .map(l => mapper.readTree(l)).toIndexedSeq
        val (warm, timed) = reqs.partition(_.path("warmup").asBoolean(false))
        val serveDir = seedScratchTables(spark, sfDir, runDir.resolve("data"))
        mark("seeded") = System.currentTimeMillis() - launchMs
        val ops = new Ops(spark, serveDir, runDir, tr)
        // set-up: one untimed call of every op type, reads first, then
        // the order stream's start and the writes
        val (warmWrites, warmReads) = warm.partition(r => Ops.writes(r.get("op").asText))
        warmReads.foreach(r => done += ops.run(r, warmup = true, storageBytes))
        mark("warm_reads") = System.currentTimeMillis() - launchMs
        ops.startOrderStream()
        mark("stream") = System.currentTimeMillis() - launchMs
        warmWrites.foreach(r => done += ops.run(r, warmup = true, storageBytes))
        summary("codegen_setup") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        summary("persisted_rdds_start") = persisted0()
        sentinels("pre")
        firstOpMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val deadline = t0 + (seconds * 1e9).toLong
        // One caller, which waits for each reply. The window runs whole
        // blocks of the mix: no request starts a new block once `seconds`
        // have passed, so every run measures the same op proportions.
        var next = 0
        while (next < timed.size && !(next % block == 0 && System.nanoTime() >= deadline)) {
          done += ops.run(timed(next), warmup = false, storageBytes)
          next += 1
        }
        loopS = (System.nanoTime() - t0) / 1e9
        if (next >= timed.size)
          summary("traffic_exhausted") = true // the generator made too few requests
        ops.stopOrderStream()
    }

    PerfbenchBus.drain(sc)
    summary("loop_s") = loopS
    summary("persisted_rdds_end") = sc.getPersistentRDDs.size
    summary("codegen_end") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val preS = sentinelS
    sentinels("post")
    summary("sentinel_time_s") = sentinelS
    summary("setup_s") = (firstOpMs - launchMs) / 1000.0 - preS
    summary("first_op_ms") = firstOpMs
    summary("setup_marks_ms") = mark
    summary("failed_queries") = tr.failedQueryCount
    // rows/files each operation's write commands stored
    val w = done.map { d =>
      val (rows, files) = tr.written(_ == d.group)
      s"""{"id":${d.id},"rows":$rows,"files":$files}"""
    }
    Files.write(runDir.resolve("writes.jsonl"), w.asJava)
    Files.write(runDir.resolve("responses.jsonl"), done.map(toJson).asJava)
    if (tr.on) {
      val lines = tr.finish().map { s =>
        s"""{"id":${Json.str(s.id)},"parent":${Json.str(s.parent)},"group":${Json.str(s.group)},""" +
          s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},""" +
          s""""attrs":${Json.obj(s.attrs)}}"""
      }
      Files.write(runDir.resolve("spans.jsonl"), lines.asJava)
    }
    Files.writeString(runDir.resolve("summary.json"), Json.obj(summary.toMap))
    spark.stop()
  }

  private def toJson(d: Done): String =
    s"""{"id":${d.id},"group":${Json.str(d.group)},"op":${Json.str(d.op)},"warmup":${d.warmup},""" +
      s""""t0_us":${d.t0Us},"t1_us":${d.t1Us},"error":${d.error.map(Json.str).getOrElse("null")},""" +
      s""""cols":${d.cols.map(Json.str).mkString("[", ",", "]")},""" +
      s""""rows":${d.rows.map(r => r.map(Json.value).mkString("[", ",", "]")).mkString("[", ",", "]")},""" +
      s""""storage_bytes":${d.storageBytes},"codegen":${d.codegen}}"""

  private def writeOracleSql(to: Path): Unit = {
    val oracle = SparkEntry.oracleSql
    val names = serveEntries ++ graphDeck ++ corpusDeck
    Files.writeString(to, Json.obj(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))
  }

  /** serve_write's scratch copy of the tables: `part` is laid out
    * partitioned by p_brand through mergeInto (its first call on a
    * missing path writes the partitioned table), the rest are copied. */
  private def seedScratchTables(spark: SparkSession, sfDir: String, to: Path): String = {
    Files.createDirectories(to)
    Files.list(Paths.get(sfDir)).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        p.getFileName.toString != "part.parquet")
      .foreach(p => copyTree(p, to.resolve(p.getFileName.toString)))
    TableWriter.mergeInto(spark, to.resolve("part.parquet").toString,
      Tables.part(spark, sfDir), Seq("p_partkey"), "p_brand")
    to.toString
  }

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      Files.list(from).iterator.asScala.foreach(p => copyTree(p, to.resolve(p.getFileName.toString)))
    } else Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
}

object Ops {
  val writes = Set("upsert", "placeOrders")
}

/** The serve operations: one request → one call into graft, timed from
  * the call to the last row collected. */
final class Ops(spark: SparkSession, dir: String, runDir: Path, tr: Trace) {
  import Harness.Done
  private val sc = spark.sparkContext
  private lazy val partSchema = spark.read.parquet(s"$dir/part.parquet").schema
  private lazy val partPath = s"$dir/part.parquet"

  private var mem: MemoryStream[StockRequest] = _
  private var stream: StreamingQuery = _
  private val decided = new java.util.concurrent.ConcurrentLinkedQueue[OrderDecision]()

  def startOrderStream(): Unit = {
    import spark.implicits._
    mem = MemoryStream[StockRequest](implicitly[org.apache.spark.sql.Encoder[StockRequest]], spark)
    val sink: (Dataset[OrderDecision], Long) => Unit =
      (ds, _) => ds.collect().foreach(d => decided.add(d))
    stream = OrderFold.placeOrderStream(mem.toDS())
      .writeStream
      .option("checkpointLocation", runDir.resolve("stream-checkpoint").toString)
      .outputMode("append")
      .foreachBatch(sink)
      .start()
  }

  def stopOrderStream(): Unit = if (stream != null) stream.stop()

  private def strs(n: JsonNode, f: String): Seq[String] =
    n.get(f).elements.asScala.map(_.asText).toSeq

  /** Builds the request's DataFrame (the operator call) — or, for the
    * two writes, performs the write and returns its output rows. */
  private def call(r: JsonNode): Either[DataFrame, (Seq[String], Array[Seq[Any]])] = {
    r.get("op").asText match {
      case "checkStock" => Left(Relational.checkStock(spark, dir, r.get("query").asText))
      case "productSearch" => Left(Relational.productSearch(spark, dir, strs(r, "terms")))
      case "fuzzySearch" => Left(Relational.fuzzySearch(spark, dir, strs(r, "terms")))
      case "productBm25" => Left(Relational.productBm25(spark, dir, r.get("query").asText))
      case "categorySearch" => Left(Relational.categorySearch(spark, dir, r.get("keyword").asText))
      case "productBySku" => Left(Relational.productBySku(spark, dir, r.get("sku").asLong))
      case "userOrders" => Left(Relational.userOrders(spark, dir, r.get("custkey").asLong))
      case "cancelEligible" => Left(Relational.cancelEligible(spark, dir, r.get("custkey").asLong))
      case "cosineTopK" => Left(VectorOps.cosineTopK(spark, dir, r.get("vec_id").asLong))
      case "upsert" =>
        val rows = r.get("rows").elements.asScala.map { o =>
          Row.fromSeq(partSchema.fields.toSeq.map { f =>
            val v = o.get(f.name)
            f.dataType match {
              case LongType => v.asLong
              case IntegerType => v.asInt
              case DoubleType => v.asDouble
              case _ => v.asText
            }
          })
        }.toList
        val delta = spark.createDataFrame(rows.asJava, partSchema)
        TableWriter.mergeInto(spark, partPath, delta, Seq("p_partkey"), "p_brand")
        Right((Seq.empty, Array.empty))
      case "placeOrders" =>
        val batch = r.get("rows").elements.asScala.map { o =>
          StockRequest(o.get("pk").asLong, o.get("okey").asLong, o.get("lineno").asInt,
            o.get("qty").asDouble, o.get("stock").asDouble)
        }.toSeq
        mem.addData(batch)
        stream.processAllAvailable()
        val out = Iterator.continually(decided.poll()).takeWhile(_ != null)
          .map(d => Seq[Any](d.part, d.okey, d.lineno, d.qty, d.accepted, d.stock_after))
          .toArray
        Right((Seq("part", "okey", "lineno", "qty", "accepted", "stock_after"), out))
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }
  }

  def run(r: JsonNode, warmup: Boolean, storage: () => Long): Done = {
    val id = r.get("id").asInt
    val op = r.get("op").asText
    val group = s"req-$id"
    sc.setJobGroup(group, op, interruptOnCancel = false)
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = tr.nowUs
    var cols: Seq[String] = Nil
    var rows: Array[Seq[Any]] = Array.empty
    val err = try {
      tr.span(group, group, s"$group.call", "operator")(call(r)) match {
        case Left(df) =>
          val got = tr.span(group, group, s"$group.mat", "materialise")(df.collect())
          cols = df.columns.toSeq
          rows = got.map(_.toSeq)
        case Right((c, rs)) => cols = c; rows = rs
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = tr.nowUs
    tr.add(tr.Span(group, "", group, "request", t0, t1))
    sc.clearJobGroup()
    Done(id, group, op, warmup, t0, t1, err, cols, rows, storage(),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
  }
}

/** Just enough JSON writing for the run files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toString
    case d: scala.math.BigDecimal => d.toString
    case t: java.sql.Timestamp => // epoch microseconds
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case s: String => str(s)
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case o => str(o.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
