package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheBook, SparkEntry, Tables}
import graft.functions.{ScrubConfig, Transforms}
import graft.operators.{SliceRoot, Slicer}
import graft.plans.SchemaGraph
import graft.sources.{RestoreWriter, SliceWriter}
import graft.tools.{RestoreExecutor, SliceRestore}

/** The outcome of one operation: its name, whether it ran and passed its
  * output checks, and what it produced for the harness to check further. */
final case class Op(name: String, ok: Boolean, detail: String = "",
    output: Map[String, Any] = Map.empty)

/** One timed iteration: wall seconds per phase plus its operations. */
final case class Iter(phases: Map[String, Double], ops: Seq[Op])

/** A closed-loop workload: the next call starts when the previous one
  * returned. `run` is one timed iteration over `dir`; `probes` runs the
  * traced layer probes on what that iteration left, outside its timing;
  * `release` then drops what the iteration left in the session. */
abstract class Workload(val spark: SparkSession, val work: Path) {
  def run(dir: String, iter: Int, tag: String): Iter
  def release(): Unit
  def probes(): Unit = ()

  /** The untimed warm-up pass over `dir`: by default one iteration. */
  def warm(dir: String): Seq[Op] = run(dir, -2, "warm").ops

  /** A traced call into a layer. While tracing, it also records which
    * named CacheBook memos the call touched: a hit if the memo was live
    * when the call began, a build otherwise. */
  protected def span[T](name: String, iter: Int)(body: => T): T =
    Trace.span(name, iter, () => Main.drain(spark)) {
      if (!Trace.on) body
      else {
        val live = CacheBook.liveNamed(spark)
        val (r, touched) = CacheBook.traced(body)
        Trace.count("memo_hits", touched.count(live.contains).toDouble)
        Trace.count("memo_builds", touched.count(t => !live.contains(t)).toDouble)
        r
      }
    }

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` as an operation; a throw is a failed operation. */
  protected def op(name: String)(body: => Op): Op =
    try body
    catch { case e: Throwable =>
      Op(name, ok = false, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    }

  protected def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}

/** slice → scrub → dump → zip, then unzip → restore into Derby → verify. */
final class SliceRestoreWorkload(spark: SparkSession, work: Path,
    roots: Seq[SliceRoot], scrubPepper: String, plantMs: Long)
    extends Workload(spark, work) {
  private val graph = SchemaGraph.tpch
  private val scrubbed = Map("customer" -> "c_name", "supplier" -> "s_name",
    "orders" -> "o_orderpriority")
  Transforms.setPepper(scrubPepper)
  private val scrub = ScrubConfig.fromJson(
    """{"tables": {"customer": {"c_name": "given_name"},
      |  "supplier": {"s_name": "surname"},
      |  "orders": {"o_orderpriority": "replace"}}}""".stripMargin)
  // DdlWriter emits PostgreSQL DDL; Derby has no `text`/`timestamptz`
  // types and no DEFERRABLE clause
  private val derby = (s: String) => s
    .replace(" text", " VARCHAR(256)")
    .replace(" timestamptz", " TIMESTAMP")
    .replace(" DEFERRABLE INITIALLY IMMEDIATE", "")
  private val props = new java.util.Properties()
  props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
  private var lastDb = ""
  private var lastSlice: Option[graft.operators.SliceResult] = None

  private def load(dir: String)(t: String): DataFrame = {
    if (plantMs > 0) Thread.sleep(plantMs)
    Tables.load(spark, dir, t)
  }

  /** Order-independent digest of a table's rows, computed on the driver:
    * each row rendered as strings (so Derby's column types and parquet's
    * compare by value), the sorted renderings hashed. */
  private def digest(rows: Iterator[Seq[Any]]): String = {
    def canon(v: Any): String = v match {
      case null => "\u0000"
      case t: java.sql.Timestamp => t.toLocalDateTime.toString
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val lines = rows.map(_.map(canon).mkString("\u0001")).toArray.sorted
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${lines.length}:" + md.digest().map("%02x".format(_)).mkString
  }

  def run(dir: String, iter: Int, tag: String): Iter = {
    val out = work.resolve(s"slice-$tag").toString
    val zip = s"$out.zip"
    val restored = work.resolve(s"restored-$tag").toString
    lastDb = s"memory:graftbench_$tag"
    val url = s"jdbc:derby:$lastDb;create=true"
    val (dumpOp, dumpS) = timed(op("dump") {
      val result = span("slicer.run", iter) {
        new Slicer(graph, load(dir)).run(roots)
      }
      lastSlice = Some(result)
      span("dump.write", iter) {
        SliceWriter.write(result, out, scrub.apply(_, _))
        val seqs = result.sequences.collect().flatMap(r =>
          if (r.isNullAt(1)) None else Some(r.getString(0) -> r.getLong(1))).toMap
        RestoreWriter.write(graph, out, seqs, s"$out/restore.sql", result.keys.keySet)
        SliceWriter.writeSchema(result, graph, out)
      }
      span("dump.zip", iter) {
        SliceWriter.zip(out, zip)
        Trace.count("output_mb", Files.size(Paths.get(zip)) / 1e6)
      }
      val rows = RestoreExecutor.readManifest(out).map(_._2).sum
      Op("dump", rows > 0, s"manifest lists $rows rows")
    })
    val (restoreOp, restoreS) = timed(op("restore") {
      span("restore.unzip", iter) { SliceWriter.unzip(zip, restored) }
      span("restore.apply", iter) {
        val (loads, applyS) = timed(RestoreExecutor(spark, graph, restored,
          url, props, jobs = 4, includeSchema = true, ddlDialect = derby))
        // overlap: summed per-table load time over the apply wall — 1.0
        // means the loads ran one after another
        Trace.count("rows", loads.map(_.rows).sum.toDouble)
        Trace.count("overlap",
          loads.map(l => (l.endNanos - l.startNanos) / 1e9).sum / applyS)
      }
      val failures = span("restore.verify", iter) { verify(dir, restored, url) }
      Op("restore", failures.isEmpty, failures.mkString("; "))
    })
    Iter(Map("write_s" -> dumpS, "read_s" -> restoreS),
      Seq(dumpOp, restoreOp))
  }

  /** The restore-side checks; returns the failures. */
  private def verify(dir: String, restored: String, url: String): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val manifest = RestoreExecutor.readManifest(restored)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      manifest.foreach { case (t, n, _) =>
        val slice = spark.read.parquet(s"$restored/data/$t")
        val cols = slice.columns.toSeq.sorted
        val rs = st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM $t")
        val back = Iterator.continually(rs).takeWhile(_.next())
          .map(r => cols.indices.map(i => r.getObject(i + 1)))
        val (a, b) = (digest(slice.select(cols.map(col): _*).collect().iterator.map(_.toSeq)),
          digest(back))
        if (!b.startsWith(s"$n:")) bad += s"$t: derby has ${b.takeWhile(_ != ':')} rows, manifest $n"
        if (a != b) bad += s"$t: slice digest $a != restored digest $b"
      }
    } finally conn.close()
    SliceRestore.validateRefs(spark, graph, restored).foreach { case (ref, orphans) =>
      if (orphans != 0) bad += s"$ref: $orphans orphans"
    }
    scrubbed.foreach { case (t, c) =>
      if (manifest.exists(_._1 == t)) {
        val key = graph.table(t).key
        val src = Tables.load(spark, dir, t).select((key :+ c).map(col): _*)
          .withColumnRenamed(c, "src_value")
        val r = broadcast(spark.read.parquet(s"$restored/data/$t")).join(src, key)
          .agg(count(lit(1)), count(when(col(c) <=> col("src_value"), 1))).head()
        val n = manifest.find(_._1 == t).get._2
        if (r.getLong(0) != n || r.getLong(1) != 0)
          bad += s"$t.$c: ${r.getLong(1)} of ${r.getLong(0)} rows unscrubbed"
      }
    }
    bad.result()
  }

  def release(): Unit = {
    CacheBook.release(spark, "slice")
    lastSlice = None
    if (lastDb.nonEmpty) {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$lastDb;drop=true")
      catch { case _: java.sql.SQLException => () } // a drop reports by throwing
      lastDb = ""
    }
    Files.list(work).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("(slice|restored)-.*"))
      .foreach(p => if (Files.isDirectory(p)) deleteTree(p) else Files.delete(p))
  }

  /** Layer probe: the scrub expressions alone over the iteration's
    * slice, scrubbed rows into the no-op sink (rows materialize in both,
    * so compare with dump.write). */
  override def probes(): Unit = lastSlice.foreach { result =>
    span("scrub.eval", -1) {
      result.allRows.foreach { case (t, df) =>
        scrub.apply(t, df).write.format("noop").mode("overwrite").save()
      }
    }
  }
}

/** The standing vector index lifecycle through the registered entries:
  * build, then the write entries, then the read entries. */
final class VectorWorkload(spark: SparkSession, work: Path)
    extends Workload(spark, work) {
  val build = Seq("s_index_build")
  val writes = Seq("s_ivf_upsert", "s_tok_upsert", "st_ann_ingest", "st_tok_ingest")
  val reads = Seq("s_ivf_ann", "s_ivf_store_probe", "s_maxsim_tok")

  private def entry(dir: String, name: String, iter: Int, tag: String): Op = op(name) {
    val out = work.resolve(s"vec-$tag").resolve(name).toString
    span(s"q.$name", iter) {
      SparkEntry.queries(name)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(out)
    }
    Op(name, ok = true, output = Map("path" -> out))
  }

  def run(dir: String, iter: Int, tag: String): Iter = {
    val phase = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ops = (build.map(_ -> "build_s") ++ writes.map(_ -> "write_s") ++
        reads.map(_ -> "read_s")).map { case (name, ph) =>
      val (o, s) = timed(entry(dir, name, iter, tag))
      phase(ph) += s
      o
    }
    Iter(phase.toMap, ops)
  }

  /** Warm all entries at once on a small pool, as graft.Verify runs
    * them: the pass only has to compile and JIT what the timed cycles
    * run, and the entries' memos are safe to share concurrently. */
  override def warm(dir: String): Seq[Op] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (build ++ writes ++ reads)
      .map(n => pool.submit(() => entry(dir, n, -2, "warm")))
      .map(_.get())
    finally pool.shutdown()
  }

  def release(): Unit = {
    CacheBook.release(spark, "s")
    CacheBook.release(spark, "st")
  }
}
