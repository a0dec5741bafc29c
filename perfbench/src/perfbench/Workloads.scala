package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.pipeline.{Pipeline, Schemas}
import graft.sources.Lake

/** What a workload needs while it runs: the session, the optional trace
  * and the run's seed. */
final class Ctx(val spark: SparkSession, val trace: Option[Trace], val seed: Long) {
  def within[T](layer: String, name: String)(f: => T): T =
    trace.fold(f)(_.span(layer, name)(f))

  val tmpDir: String = sys.props("java.io.tmpdir")
}

/** Result of one timed operation. */
final case class OpResult(name: String, family: String, seconds: Double, build: Double,
                          plan: Double, exec: Double, dupScans: Int,
                          buildOnce: Option[Boolean], error: Option[String])

/** A workload: how it stages its inputs (set-up), the build-once work
  * that belongs in set-up, and one pass over its operation list. Each
  * pass returns per-op results and, to run after the pass's clock has
  * stopped, a reader of the named output digests to check. */
trait Workload {
  def name: String
  /** Sizes of the generated tables this workload stages. */
  def sizes: Sizes
  /** Stages the inputs under `dir`; returns input bytes. */
  def stage(ctx: Ctx, dir: String): Long
  /** Build-once work done before any timed operation. */
  def build(ctx: Ctx, dir: String): Unit = ()
  def pass(ctx: Ctx, dir: String, passNo: Int, order: scala.util.Random)
      : (Seq[OpResult], () => Seq[(String, Digest)])
  /** Bytes and files a pass that started at `sinceMs` left in lake
    * zones or index roots. */
  def lakeBytes(ctx: Ctx, dir: String, passNo: Int, sinceMs: Long): (Long, Long)
}

object Workload {
  private val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNanos: Long = cpu.getProcessCpuTime

  /** CPU the JIT compiler threads have used, from /proc (clock ticks of
    * 10 ms). The JVM runs with a fixed set of compiler threads, so none
    * exits and takes its time with it. */
  def jitNanos: Long =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum

  /** Process CPU less the JIT compiler's: the work the program does. How
    * much compiling is left after the warm passes depends on the host's
    * load, not on the program. */
  def cpuNanos: Long = processCpuNanos - jitNanos

  def all: Map[String, Workload] =
    Seq(new Medallion(Sizes.sf(0.005)),
      new QueryMix("corpus", Sizes.sf(0.01).copy(documents = 1200, embeddings = 1200),
        QueryMix.corpus, Seq("documents", "embeddings", "supplier", "lineitem", "events")))
      .map(w => w.name -> w).toMap

  /** Times `f` as one operation, catching its failure. */
  def timed(ctx: Ctx, name: String, family: String)(f: => (Double, Double, Double, Int))
      : OpResult = {
    val t0 = System.nanoTime()
    val (b, p, e, dups, err) =
      try { val (b, p, e, d) = ctx.within("op", name)(f); (b, p, e, d, None) }
      catch { case t: Throwable => (0.0, 0.0, 0.0, 0, Some(s"${t.getClass.getName}: ${t.getMessage}")) }
    OpResult(name, family, (System.nanoTime() - t0) / 1e9, b, p, e, dups, None, err)
  }

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A closed-loop mix of registry queries over the generated tables. The
  * run's seed only permutes the order of queries within each pass.
  * Each query's family names the operator object it exercises. */
final class QueryMix(val name: String, val sizes: Sizes, val queries: Seq[(String, String)],
                     tables: Seq[String]) extends Workload {
  def stage(ctx: Ctx, dir: String): Long =
    new Data(ctx.spark, QueryMix.DataSeed).stage(dir, sizes, tables)

  override def build(ctx: Ctx, dir: String): Unit =
    queries.map(_._1).filter(QueryMix.buildOnce).foreach(q => SparkEntry.queries(q)(ctx.spark, dir))

  def pass(ctx: Ctx, dir: String, passNo: Int, order: scala.util.Random)
      : (Seq[OpResult], () => Seq[(String, Digest)]) = {
    val digests = Seq.newBuilder[(String, Digest)]
    val results = order.shuffle(queries).map { case (q, family) =>
      val before = if (QueryMix.buildOnce(q)) Some(Fs.stamps(ctx.tmpDir)) else None
      val r = Workload.timed(ctx, q, family) {
        val (df, b) = Workload.secondsOf(ctx.within("build", q)(SparkEntry.queries(q)(ctx.spark, dir)))
        val (_, p) = Workload.secondsOf(ctx.within("plan", q)(df.queryExecution.executedPlan))
        val (d, e) = Workload.secondsOf(ctx.within("exec", q)(Check.digest(df)))
        digests += q -> d
        (b, p, e, if (ctx.trace.isDefined) Plans.dupScans(df.queryExecution.executedPlan) else 0)
      }
      r.copy(buildOnce = before.map(_ == Fs.stamps(ctx.tmpDir)))
    }
    (results, () => digests.result())
  }

  def lakeBytes(ctx: Ctx, dir: String, passNo: Int, sinceMs: Long): (Long, Long) = {
    val roots = Option(new java.io.File(ctx.tmpDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))
    roots.map(r => Fs.usage(r.getPath, sinceMs)).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

object QueryMix {
  /** The generated data's own seed: fixed, so expected digests hold for
    * every run seed. */
  val DataSeed = 42L

  val corpus: Seq[(String, String)] = Seq(
    "q_near_dup_pairs" -> "Dedup", "q_jaccard_persisted" -> "SetSimilarity",
    "q_topk_cosine" -> "Similarity", "q_lsh_knn" -> "Similarity",
    "q_kmeans_wide" -> "Clustering", "q_gopher_rules" -> "CorpusStats",
    "q_source_overlap" -> "Ngrams", "q_window_stats" -> "Windows", "q_dq_rules" -> "Quality",
    "q_sessionize" -> "Sessions", "q_stream_ingest_final" -> "Sessions")

  /** Queries that build a persisted index on first use (Lake.buildOnce). */
  val buildOnce: Set[String] = Set("q_jaccard_persisted")
}

/** The reference pipeline (graft.PipelineBench's stage list) over the
  * generated fact rendered to CSV, into fresh lake roots every pass. The
  * run's seed permutes the CSV row order. */
final class Medallion(val sizes: Sizes) extends Workload {
  val name = "medallion"
  private val reportTables = Seq("drug_report", "prescriber_report")

  def stage(ctx: Ctx, dir: String): Long = {
    import org.apache.spark.sql.functions._
    val data = new Data(ctx.spark, QueryMix.DataSeed)
    val supplier = data.supplier(sizes)
    val part = data.part(sizes)
    val frames = Seq(
      "prescriber" -> supplier.select(
        col("s_suppkey").cast("int").as("presc_id"),
        col("s_name").as("presc_fullname"),
        lit("GENERAL").as("presc_specialty"),
        col("s_nationkey").cast("string").as("presc_state_code")),
      "drug" -> part.groupBy(col("p_brand").as("drug_brand_name"))
        .agg(min(col("p_partkey")).cast("int").as("drug_id"),
          min(col("p_name")).as("drug"), min(col("p_type")).as("drug_type"))
        .select("drug_id", "drug_brand_name", "drug", "drug_type"),
      "prescriber_drug" -> data.lineitem(sizes)
        .join(part.select(col("p_partkey"), col("p_brand")), col("l_partkey") === col("p_partkey"))
        .select(col("l_suppkey").cast("int").as("presc_id"),
          col("p_brand").as("drug_brand_name"),
          col("l_quantity").cast("int").as("total_claims"),
          col("l_extendedprice").cast("double").as("total_drug_cost")))
    frames.map { case (t, df) =>
      df.orderBy(xxhash64(lit(ctx.seed) +: df.columns.toSeq.map(col): _*), col(df.columns.head))
        .coalesce(1).write.option("header", "true").csv(s"$dir/_$t")
      Fs.single(s"$dir/_$t", s"$dir/csv/$t.csv")
    }.sum
  }

  private def lake(dir: String, passNo: Int): Lake =
    Lake(s"$dir/pass$passNo/raw", s"$dir/pass$passNo/cleansed", s"$dir/pass$passNo/curated")

  def pass(ctx: Ctx, dir: String, passNo: Int, order: scala.util.Random)
      : (Seq[OpResult], () => Seq[(String, Digest)]) = {
    val root = s"$dir/pass$passNo"
    val lk = lake(dir, passNo)
    val pipe = new Pipeline(ctx.spark, lk, piiPatterns = Seq("fullname"))
    var profile: Option[Digest] = None
    def stage(name: String, family: String)(f: => Unit): OpResult =
      Workload.timed(ctx, name, family) { val (_, s) = Workload.secondsOf(f); (0.0, 0.0, s, 0) }
    val results = Seq(
      stage("ingest", "pipeline")(pipe.ingestCsvDir(s"$dir/csv", 2026, 8, 14, schemas = Schemas.all)),
      stage("cleanse", "pipeline") {
        pipe.cleanse("drug")
        pipe.cleanse("prescriber")
        pipe.cleanse("prescriber_drug", intCastCols = Seq("total_claims"))
      },
      stage("anonymize", "Anonymize")(pipe.anonymize("prescriber")),
      stage("reports", "Reports") {
        pipe.drugReport("prescriber_drug")
        pipe.prescriberReport("prescriber_drug", "prescriber", "presc_id", "presc_fullname")
      },
      stage("readable", "pipeline")(pipe.writeReadableCsv("prescriber_report",
        "presc_fullname", "__vault_prescriber_presc_fullname")),
      stage("export", "pipeline")(pipe.exportReports("derby", s"$root/reportdb", reportTables)),
      stage("profile", "Profile") { profile = Some(Check.digest(pipe.profile("prescriber_drug"))) },
      stage("audit", "pipeline")(pipe.writeAuditLog(s"$root/artifacts/audit.json")))
    (results, () => if (results.exists(_.error.nonEmpty)) Nil else outputs(ctx, root, lk, profile.get))
  }

  /** The pass's published outputs: curated reports and vault, the
    * readable CSV, the Derby tables' row counts and the audit log. */
  private def outputs(ctx: Ctx, root: String, lk: Lake, profile: Digest): Seq[(String, Digest)] = {
    val spark = ctx.spark
    val curated = (reportTables :+ "__vault_prescriber_presc_fullname").map(t =>
      s"curated.$t" -> Check.digest(lk.readCurated(spark, t)))
    val readable = "readable.prescriber_report" -> Check.digest(
      spark.read.option("header", "true").csv(s"${lk.curated}/readable_prescriber_report"))
    val url = s"jdbc:derby:$root/reportdb"
    val derby = scala.util.Using.resource(java.sql.DriverManager.getConnection(url)) { c =>
      reportTables.map { t =>
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next()
        s"derby.$t" -> Digest(rs.getLong(1), 0L, 0L)
      }
    }
    try java.sql.DriverManager.getConnection(s"$url;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown by throwing
    val audit = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$root/artifacts/audit.json"))
    curated ++ Seq(readable, "profile.prescriber_drug" -> profile) ++ derby :+
      ("audit.json" -> Digest(1L, scala.util.hashing.MurmurHash3.stringHash(audit).toLong, 0L))
  }

  def lakeBytes(ctx: Ctx, dir: String, passNo: Int, sinceMs: Long): (Long, Long) = {
    val lk = lake(dir, passNo)
    Seq(lk.raw, lk.cleansed, lk.curated).map(Fs.usage(_))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
