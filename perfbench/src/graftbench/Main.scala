package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit}

import graft.{FsUtil, GraftSession, SparkEntry, Tables}
import graft.operators.{MergeOps, SignatureStore}
import graft.registry.Extraction
import graft.sources.{CorpusLayout, PartitionedLayout}

/** One op of the generated script (see perfbench/gen.py). Ops of block -1
  * are set-up: the MOR history, or the warm-up writes. */
final case class Op(id: Int, block: Int, kind: String, cls: String, table: String,
                    sql: String, where: String, sets: Seq[(String, String)])

/** A workload: set-up, then one closed-loop client running ops in order. */
trait Workload {
  def setup(): Unit
  /** Runs one op; a read returns its rows for the off-clock check. */
  def run(op: Op): Option[Seq[Row]]
  /** Off the clock, traced runs only: file-system state before a write. */
  def snapshot(op: Op): Option[Map[String, (Any, Long)]] = None
  /** Off the clock, traced runs only: what the op left on disk. */
  def observe(op: Op, before: Option[Map[String, (Any, Long)]]): Map[String, Any] = Map.empty
  /** Off the clock, after the last op: dumps and checks. */
  def finish(): Unit
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val inputs = Paths.get(a("inputs")).toAbsolutePath.toString
    val out = Paths.get(a("out")).toAbsolutePath
    val cpus = a("cpus").toInt
    Files.createDirectories(out)
    val rec = new Recorder(a.getOrElse("trace", "0") == "1")
    rec.facts("jvm_start_ms") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    rec.install(spark)
    rec.facts("session_ready_ms") = System.currentTimeMillis()
    val ops = Files.readAllLines(Paths.get(inputs, "ops.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t", -1)
      Op(f(0).toInt, f(1).toInt, f(2), f(3), f(4), f(5), f(6),
        f(7).split("\u001f").toSeq.filter(_.nonEmpty).map { s =>
          val i = s.indexOf('='); (s.take(i), s.drop(i + 1))
        })
    }
    val w: Workload = workload match {
      case "batch_refresh" => new BatchRefresh(spark, rec, inputs, out)
      case "lifecycle_cow_write" => new Lifecycle(spark, rec, inputs, out, mor = false)
      case "lifecycle_mor_read" => new Lifecycle(spark, rec, inputs, out, mor = true)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val reads = new StringBuilder
    def runAll(part: Seq[Op]): Unit = part.foreach { op =>
      val before = if (rec.traced && op.cls == "w") w.snapshot(op) else None
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(rec.op(op.id)(w.run(op))) catch { case NonFatal(e) => Left(e) }
      val dur = System.nanoTime() - t0
      val m1 = System.currentTimeMillis()
      val seen = if (rec.traced) w.observe(op, before) else Map.empty[String, Any]
      res.toOption.flatten.foreach { rows =>
        reads ++= Json.value(Map("id" -> op.id, "rows" -> rows.map(_.toSeq))) += '\n'
      }
      rec.ops += Map("id" -> op.id, "block" -> op.block, "kind" -> op.kind, "cls" -> op.cls,
        "table" -> op.table, "start_ms" -> m0, "end_ms" -> m1, "dur_ns" -> dur,
        "ok" -> res.isRight, "error" -> res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500))) ++ seen
    }
    val setupStart = System.currentTimeMillis()
    rec.span("setup")(w.setup())
    rec.facts("birth_end_ms") = System.currentTimeMillis()
    rec.facts("birth_start_ms") = setupStart
    runAll(ops.filter(_.block < 0))
    rec.drain()
    val cpu0 = cpuNow()
    rec.facts("measure_start_ms") = System.currentTimeMillis()
    runAll(ops.filter(_.block >= 0))
    rec.facts("measure_end_ms") = System.currentTimeMillis()
    val cpu1 = cpuNow()
    rec.facts("busy_jiffies") = cpu1._1 - cpu0._1
    rec.facts("own_cpu_ns") = cpu1._2 - cpu0._2
    rec.facts("vm_hwm_kb") = vmHwmKb()
    rec.facts("heap_max_mb") = Runtime.getRuntime.maxMemory / (1L << 20)
    rec.facts("local_n") = cpus
    rec.facts("processors") = Runtime.getRuntime.availableProcessors
    try rec.span("finish")(w.finish()) catch {
      case NonFatal(e) => rec.facts("finish_error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    rec.drain()
    Files.write(out.resolve("reads.jsonl"), reads.toString.getBytes("UTF-8"))
    rec.write(out.resolve("record.json").toString)
    spark.stop()
  }

  /** (machine busy jiffies from /proc/stat, this JVM's process CPU ns). */
  private def cpuNow(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal: busy excludes idle, iowait
    val busy = f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 && i < 8 => v }.sum
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    (busy, os.getProcessCpuTime)
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** Shared file-system accounting: regular files under a directory with
  * their inode and size, so hard links (files linked, not written) and
  * space (each inode once) can be told apart. */
object Fs {
  def files(root: Path): Map[String, (Any, Long)] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> ((Files.getAttribute(p, "unix:ino"), Files.size(p)))
      }.toMap finally s.close()
    }
}

final class Lifecycle(spark: SparkSession, rec: Recorder, inputs: String, out: Path,
                      mor: Boolean) extends Workload {
  private val corpus = Map("F" -> out.resolve("corpus_F").toString,
    "P" -> out.resolve("corpus_P").toString)
  private val layoutBase = out.resolve("layout")
  private var table = Map.empty[String, String]
  private val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def root(t: String): Path = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(corpus(t).getBytes("UTF-8")).map("%02x".format(_)).mkString
    layoutBase.resolve(key)
  }

  def setup(): Unit = {
    spark.conf.set(CorpusLayout.ConfKey, layoutBase.toString)
    if (mor) spark.conf.set(MergeOps.MergeModeKey, "mor")
    table = Seq("F", "P").map { t =>
      val part = if (t == "P") " PARTITIONED BY source" else ""
      t -> rec.span("spark.sql") {
        spark.sql(s"CREATE TABLE documents IN CORPUS '${corpus(t)}' INTO 16 BUCKETS$part " +
          s"AS SELECT ${cols.mkString(", ")} FROM parquet.`$inputs/docs.parquet`").head().getString(0)
      }
    }.toMap
    rec.facts("tables") = table
  }

  private def changes(served: DataFrame, op: Op): DataFrame =
    served.filter(expr(op.where))
      .select(col("doc_id") +: op.sets.map { case (c, e) => expr(e).as(c) }: _*)
      .withColumn(MergeOps.TombstoneCol, lit(false))

  def run(op: Op): Option[Seq[Row]] = op.kind match {
    case "api_update" =>
      rec.span("applyToLayout") {
        if (op.table == "F")
          MergeOps.applyToLayoutFrom(spark, corpus("F"), partial = true)(changes(_, op))
        else PartitionedLayout.applyToLayoutFrom(spark, corpus("P"), partial = true)(changes(_, op))
      }
      None
    case _ =>
      val rows = rec.span("spark.sql") { spark.sql(op.sql.replace("{T}", table(op.table))).collect() }
      if (op.cls == "r") Some(rows.toSeq) else None
  }

  private def genDirs(t: String): Seq[Path] = {
    val r = root(t)
    Seq(r, r.resolve("partitioned")).filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.list(d)
      try s.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("documents(_v\\d+)?")).toList finally s.close()
    }
  }

  private def tracked(op: Op) = op.table == "F" || op.table == "P"

  override def snapshot(op: Op): Option[Map[String, (Any, Long)]] =
    if (tracked(op)) Some(Fs.files(root(op.table))) else None

  override def observe(op: Op, before: Option[Map[String, (Any, Long)]]): Map[String, Any] = {
    if (!tracked(op)) return Map.empty
    val gens = genDirs(op.table)
    val tip = gens.maxByOption(_.getFileName.toString.split("_v").lift(1).map(_.toInt).getOrElse(0))
    val sidecars = tip.toSeq.flatMap(g => Fs.files(g).keys
      .filter(p => p.contains("/_dv/") && p.endsWith(".parquet")))
    val state = Map[String, Any]("sidecar_files" -> sidecars.size, "generations_live" -> gens.size)
    before.fold(state) { old =>
      val now = Fs.files(root(op.table))
      val oldIno = old.values.map(_._1).toSet
      val added = now.filter { case (p, _) => !old.contains(p) }.values.toSeq
      val fresh = added.filter(v => !oldIno.contains(v._1)).distinctBy(_._1)
      state ++ Map("files_written" -> fresh.size,
        "files_linked" -> added.count(v => oldIno.contains(v._1)),
        "bytes_written" -> fresh.map(_._2).sum)
    }
  }

  def finish(): Unit = {
    for ((t, name) <- table) {
      spark.table(name).select(cols.map(col): _*).coalesce(1)
        .write.parquet(out.resolve(s"tip_$t").toString)
      rec.facts(s"check_$t") = spark.sql(s"CHECK TABLE $name").collect().map(_.toSeq).toSeq
    }
  }
}

final class BatchRefresh(spark: SparkSession, rec: Recorder, inputs: String, out: Path)
    extends Workload {
  private val corpus = s"$inputs/corpus"
  private def dir(op: Op) = out.resolve(s"refresh_${op.block}")

  def setup(): Unit = {
    spark.conf.set(CorpusLayout.ConfKey, out.resolve("layout").toString)
    // the family whose pairs the DuckDB oracle reproduces exactly
    spark.conf.set(SignatureStore.FamilyKey, "perm16")
    rec.span("CorpusLayout.materialize") { CorpusLayout.materialize(spark, corpus) }
  }

  private def query(op: Op): Unit = {
    val df = rec.span("SparkEntry.queries") { SparkEntry.queries(op.sql)(spark, corpus) }
    rec.span("write") { df.write.parquet(dir(op).resolve(op.kind).toString) }
  }

  def run(op: Op): Option[Seq[Row]] = {
    op.kind match {
      case "sigstore" =>
        spark.conf.set(SignatureStore.ConfKey, dir(op).resolve("store").toString)
        rec.span("SignatureStore.materialize") { SignatureStore.materialize(spark, corpus) }
      case "extract_all" =>
        import spark.implicits._
        val tasks = rec.span("plan") {
          spark.read.parquet(dir(op).resolve("dispatch").toString).select("doc_id", "filetype_id")
            .join(Tables.load(spark, corpus, "documents").select("doc_id", "text"), "doc_id")
            .select($"doc_id", $"filetype_id",
              concat(lit("/data/files/doc_"), $"doc_id").as("input_path"), $"text".as("payload"))
            .as[Extraction.FileTask]
        }
        rec.span("Extraction.extractAll") {
          Extraction.extractAll(tasks).write.parquet(dir(op).resolve(op.kind).toString)
        }
      case _ if op.cls == "w" => query(op)
      case _ =>
        val src = s"parquet.`${dir(op).resolve(op.table)}`"
        return Some(rec.span("spark.sql") { spark.sql(op.sql.replace("{O}", src)).collect().toSeq })
    }
    None
  }

  def finish(): Unit = {
    FsUtil.sweep()
    // oracle SQL for every consumer, for the off-clock DuckDB check
    val oracle = SparkEntry.oracleSql
    rec.facts("oracle_sql") = oracle.filter { case (k, _) =>
      Seq("r05", "r06", "d14", "d17", "d23", "d25", "s18", "s19", "t03").exists(k.startsWith) }
  }
}
