package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cluster.ConnectedComponents
import graft.exact.{DedupConfig, ExactDedup}
import graft.near.{NearConfig, NearDup}
import graft.state.DbMeta
import graft.util.{Blocks, PersistScope}

/** The benchmark's JVM side: lands the seeded table, sets up, runs one
  * workload for the requested time, checks every output and prints one
  * JSON result line (see perfbench/README.md). */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: String, cpus: Int, corrupt: Boolean = false)

  /** Input of each workload (corpus replicas, documents per replica), the
    * untimed units run between set-up and timing, the fewest timed units a
    * run takes its median over, how many set-ups it takes the median of,
    * and the share of the documents (1/slice) each set-up's warm pass runs
    * on. */
  final case class Spec(table: String, replicas: Int, docs: Int, warmUnits: Int,
                        minUnits: Int, setUps: Int, slice: Int)

  // The first jobs after start-up pay up to ~60% more than later ones,
  // mostly JIT of the driver's planning code, so one untimed job follows
  // the set-ups. A near job costs ~15 s of mostly driver-side planning
  // whatever its input size, so a run affords one timed near job, and a
  // near set-up warms only the representatives and signal kernels. near_cluster's ~5.3k representatives
  // put the two corpus-wide SimHash chunk buckets over maxBucket (dropped)
  // and leave two hot ones: every bucket path of the candidate layer runs.
  val Specs: Map[String, Spec] = Map(
    "exact_scan" -> Spec("exact", replicas = 8, docs = 5000, warmUnits = 1, minUnits = 5,
      setUps = 3, slice = 16),
    "near_cluster" -> Spec("near", replicas = 2, docs = 2000, warmUnits = 1, minUnits = 1,
      setUps = 5, slice = 16))
  /** No new job or op starts after this many seconds of the run. */
  val HardStopS = 130.0

  private val started = System.nanoTime()
  private def elapsedS: Double = (System.nanoTime() - started) / 1e9
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] $elapsedS%7.2f s  $what")

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // as graft.cli.Main sets them
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.root}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Between timed units: drop every cache and block, then collect garbage,
    * so each unit starts from the same state. */
  private def hygiene(spark: SparkSession): Unit = {
    Blocks.sweep(spark)
    System.gc()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Rows whose doc index falls in the first 1/slice of a replica: whole
    * doc families (variants share the doc index), 1/slice of the size.
    * The set-up's warm pass runs on it. */
  private def warmSlice(files: DataFrame, spec: Spec): DataFrame =
    files.where(pmod(col("file_id"), lit(1000000L)) < spec.docs / spec.slice)

  // ------------------------------------------------------------ the jobs

  /** exact_scan's job: the CLI `scan` op — duplicates written as the
    * stored db (parquet + meta). */
  def scanJob(spark: SparkSession, files: DataFrame, out: String): Unit = {
    val cfg = DedupConfig()
    ExactDedup.duplicates(files, cfg).write.mode("overwrite").parquet(s"$out/duplicates")
    DbMeta.write(spark, out, cfg)
  }

  /** near_cluster's job: every file's near-dup cluster. */
  def clusterJob(files: DataFrame, out: String): Unit =
    NearDup.allFileClusters(files, NearConfig()).write.mode("overwrite").parquet(out)

  /** The scan job staged through the cascade's public stage functions,
    * each stage persisted and counted inside its span. */
  def scanTraced(spark: SparkSession, files: DataFrame, out: String, tr: Tracer,
                 nFiles: Long, ex: mutable.Map[String, Double]): Double = {
    val cfg = DedupConfig()
    val scope = new PersistScope
    val t0 = System.nanoTime()
    val nSurv = tr.span("exact.size_prune") {
      val n = scope.persist(ExactDedup.sizeSurvivors(files, cfg)).count(); tr.rows(n); n
    }
    val nCand = tr.span("exact.prefix_hash") {
      val n = scope.persist(ExactDedup.hashedSurvivors(files, cfg)).count(); tr.rows(n); n
    }
    val (d, nDup) = tr.span("exact.full_hash") {
      val d = scope.persist(ExactDedup.duplicates(files, cfg)); val n = d.count(); tr.rows(n); (d, n)
    }
    tr.span("state.db_write") {
      d.write.mode("overwrite").parquet(s"$out/duplicates")
      DbMeta.write(spark, out, cfg)
      tr.rows(nDup)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    scope.release()
    ex("exact.size_prune.survive_ratio") = nSurv.toDouble / nFiles
    ex("exact.full_hash.confirm_ratio") = if (nCand == 0) 0.0 else nDup.toDouble / nCand
    tr.span("state.db_open") {
      DbMeta.check(spark, out)
      tr.rows(spark.read.parquet(s"$out/duplicates").count())
    }
    wall
  }

  /** The cluster job staged through NearDup's stage functions, each
    * persisted and counted inside its span. Member expansion and the rep
    * map have no public entry point: they are written out here, as
    * `allFileClusters` composes them, and timed as near.other. */
  def clusterTraced(files: DataFrame, out: String, tr: Tracer,
                    ex: mutable.Map[String, Double]): Double = {
    val cfg = NearConfig()
    val scope = new RecordingScope
    val t0 = System.nanoTime()
    val reps = tr.span("near.reps") {
      val r = scope.persist(NearDup.representatives(files, cfg)); tr.rows(r.count()); r
    }
    val sigs = tr.span("near.signals") {
      val s = scope.persist(NearDup.signalFrame(reps, cfg)); tr.rows(s.count()); s
    }
    val (plausible, nPlausible) = tr.span("near.candidates") {
      val p = scope.persist(NearDup.allCandidates(sigs, cfg, scope).distinct())
      val n = p.count(); tr.rows(n); (p, n)
    }
    val sh = tr.span("near.shingles") {
      val s = scope.persist(NearDup.candidateShingles(reps, plausible, cfg)); tr.rows(s.count()); s
    }
    val (ver, nVer) = tr.span("near.verify") {
      val v = scope.persist(NearDup.verifyCandidates(plausible, sh, cfg))
      val n = v.count(); tr.rows(n); (v, n)
    }
    val (labels, rounds) = tr.span("cluster.cc") {
      val edges = ver.select("a", "b").localCheckpoint(true)
      val r = ConnectedComponents.runWithStats(reps.select("file_id"), edges)
      if (!r.converged) sys.error(s"connected components did not converge in ${r.rounds} rounds")
      val l = r.labels.localCheckpoint(true)
      Blocks.free(edges)
      tr.rows(l.count())
      (l, r.rounds)
    }
    val scanned = ExactDedup.scanFilter(files, DedupConfig()).where(col("size") >= cfg.shingleK)
    val sizeN = scanned.groupBy("size").agg(count(lit(1)).as("__n"))
    val narrow = scope.persist(scanned.join(sizeN, Seq("size"))
      .select(col("file_id"), col("size"),
        when(col("__n") >= 2, sha2(col("content"), 256)).otherwise(lit("")).as("hash")))
    val repOf = narrow.groupBy("size", "hash").agg(min("file_id").as("rep_id"))
    narrow.join(repOf, Seq("size", "hash"))
      .join(labels.select(col("file_id").as("rep_id"), col("cluster_id")), Seq("rep_id"))
      .select("file_id", "cluster_id")
      .write.mode("overwrite").parquet(out)
    val wall = (System.nanoTime() - t0) / 1e9
    // outside the traced wall: sizes of the buckets allCandidates persisted
    // (band and SimHash chunk rows keyed by bidx, bkey), so the salted hot
    // path's share of the work is measured, not assumed
    scope.frames.find(f => Set("bidx", "bkey").subsetOf(f.columns.toSet)).foreach { rows =>
      val hot = col("n") > cfg.hotBucket && col("n") <= cfg.maxBucket
      val b = rows.groupBy("bidx", "bkey").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(when(hot, 1L)), lit(0L)), coalesce(sum(when(hot, col("n"))), lit(0L)),
          coalesce(max("n"), lit(0L)))
        .head()
      ex("near.candidates.hot_buckets") = b.getLong(0)
      ex("near.candidates.hot_rows") = b.getLong(1)
      ex("near.candidates.largest_bucket") = b.getLong(2)
    }
    ex("near.signals.content_mb") =
      sigs.agg(coalesce(sum("size"), lit(0L))).head().getLong(0) / 1e6
    ex("near.verify.yield") = if (nPlausible == 0) 0.0 else nVer.toDouble / nPlausible
    ex("cluster.cc.rounds") = rounds
    ex("cluster.cc.edges_in") = nVer
    scope.release()
    Blocks.free(labels)
    wall
  }

  /** A persist scope that also keeps the frames it persisted, so the
    * traced run can size the candidate layer's buckets afterwards. */
  final class RecordingScope extends PersistScope {
    val frames = mutable.ArrayBuffer.empty[DataFrame]
    override def persist(df: DataFrame): DataFrame = {
      frames.synchronized { frames += df }
      super.persist(df)
    }
  }

  // ------------------------------------------------------------ metrics

  val LayerSpans = Seq("exact.size_prune", "exact.prefix_hash", "exact.full_hash",
    "state.db_write", "state.db_open", "near.reps", "near.signals", "near.candidates",
    "near.shingles", "near.verify", "cluster.cc")
  val QueryOps = Seq("file", "hash", "report", "dups", "uniques", "refresh")

  /** Every per-layer metric: (name, unit). Units "count" mark the numbers
    * that must repeat exactly across traced runs of one seed. */
  val PerLayer: Seq[(String, String)] =
    LayerSpans.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.driver_s" -> "s",
      s"$s.exec_s" -> "s", s"$s.jobs" -> "count", s"$s.rows_out" -> "count",
      s"$s.input_mb" -> (if (s == "exact.size_prune") "count" else "MB"),
      s"$s.shuffle_mb" -> "MB", s"$s.cached_mb" -> "MB")) ++
    Seq("exact.size_prune.survive_ratio" -> "ratio", "exact.full_hash.confirm_ratio" -> "ratio",
      "near.signals.content_mb" -> "MB", "near.candidates.buckets_dropped" -> "count",
      "near.candidates.max_bucket" -> "rows", "near.candidates.hot_buckets" -> "count",
      "near.candidates.hot_rows" -> "count", "near.candidates.largest_bucket" -> "count",
      "near.verify.yield" -> "ratio",
      "cluster.cc.rounds" -> "count", "cluster.cc.edges_in" -> "rows",
      "cluster.cc.jobs_per_round" -> "jobs/round", "near.other.wall_s" -> "s") ++
    QueryOps.flatMap(op => Seq(s"query.$op.p50_ms" -> "ms", s"query.$op.jobs" -> "count",
      s"query.$op.driver_s" -> "s")) ++
    Seq("trace.overhead_s" -> "s", "trace.span_coverage" -> "ratio")

  private def layerMetrics(tr: Tracer, ex: mutable.Map[String, Double],
                           tracedWall: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach { case (n, _) => m(n) = 0.0 }
    LayerSpans.foreach { s =>
      val t = tr.total(s)
      m(s"$s.wall_s") = t.wallS; m(s"$s.driver_s") = t.driverS; m(s"$s.exec_s") = t.execS
      m(s"$s.jobs") = t.jobs.toDouble; m(s"$s.rows_out") = t.rowsOut.toDouble
      m(s"$s.input_mb") = t.inputMb; m(s"$s.shuffle_mb") = t.shuffleMb
      m(s"$s.cached_mb") = t.cachedMb
    }
    val obs = tr.named("near.candidates").flatMap(_.observations)
      .filter(_._1.startsWith("graft_skew_dropped_")).map(_._2)
    m("near.candidates.buckets_dropped") = obs.map(_.getLong(0)).sum.toDouble
    m("near.candidates.max_bucket") = (0L +: obs.map(_.getLong(1))).max.toDouble
    ex.foreach { case (k, v) => m(k) = v }
    val cc = tr.total("cluster.cc")
    if (ex.contains("cluster.cc.rounds") && ex("cluster.cc.rounds") > 0)
      m("cluster.cc.jobs_per_round") = cc.jobs / ex("cluster.cc.rounds")
    val nearSpans = LayerSpans.filter(s => s.startsWith("near.") || s.startsWith("cluster."))
    if (tr.named("near.reps").nonEmpty)
      m("near.other.wall_s") = tracedWall - nearSpans.map(tr.total(_).wallS).sum
    QueryOps.foreach { op =>
      val ss = tr.named(s"query.$op")
      if (ss.nonEmpty) {
        val st = ss.map(tr.stats)
        m(s"query.$op.p50_ms") = median(st.map(_.wallS * 1e3))
        m(s"query.$op.jobs") = st.map(_.jobs).sum.toDouble / st.size
        m(s"query.$op.driver_s") = st.map(_.driverS).sum / st.size
      }
    }
    m.toMap
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  // ------------------------------------------------------------ the run

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("corrupt").contains("1"))
    require(Specs.contains(o.workload), s"unknown workload ${o.workload}; one of ${Specs.keys.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try run(o) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Planted pairs for the recall check: (base, fork) and (base, foil) of
    * up to 400 seeded docs, and (source, dup doc) where the doc copies
    * another. */
  def plantedPairs(seed: Long, spec: Spec): Seq[(Long, String, Long, String)] = {
    val docs = (0 until 400).map { i =>
      val k = Gen.h(seed, 13, i) & Long.MaxValue
      ((k % spec.replicas).toInt, ((k / spec.replicas) % spec.docs).toInt)
    }.distinct
    docs.flatMap { case (r, d) =>
      val rows = Gen.docRows(seed, r, d, spec.docs)
      val base = rows.head
      val source =
        if (!Gen.isDupDoc(seed, d)) None
        else Gen.docRows(seed, r, Gen.dupSource(seed, d, spec.docs), spec.docs).headOption
      (source.toSeq ++ rows.filter(x => x.repo.startsWith("fork") || x.repo.startsWith("foil")))
        .map(v => (base.file_id, base.content, v.file_id, v.content))
    }
  }

  def run(o: Opts): Int = {
    val spec = Specs(o.workload)
    val exact = o.workload == "exact_scan"
    val work = new java.io.File(o.root,
      s"work/${o.workload}-${ProcessHandle.current().pid()}")
    Files.deleteTree(work)
    work.mkdirs()
    var spark = session(o)
    phase("session started")
    // ---- untimed: land the table, derive what outputs are checked against
    val seedDir = Gen.landed(spark, s"${o.root}/data", spec.table, o.seed, spec.replicas,
      spec.docs)
    val table = s"$seedDir/files"
    val nFiles = spark.read.parquet(table).count()
    phase(s"table landed: $nFiles files")
    lazy val expectDups = Checks.expectedDuplicates(spark.read.parquet(table))
    lazy val expectNear = Checks.nearExpect(spark.read.parquet(table), plantedPairs(o.seed, spec))
    if (exact) expectDups else expectNear
    phase("expectations ready")

    var attempted = 0
    var failed = 0
    def fail(msg: String): Unit = { failed += 1; System.err.println(s"[perfbench] CHECK FAILED: $msg") }
    def attempt[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch {
        case e: Exception =>
          e.printStackTrace()
          fail(s"op threw ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }

    /** Check one written job output, then delete it; returns its bytes.
      * `--corrupt 1` damages one output row first (the checks' self-test). */
    val fpFile = new java.io.File(seedDir, s"${o.workload}.clusters.fp")
    def checkJob(out: String): Long = {
      val bytes = Files.treeBytes(new java.io.File(out))
      if (exact) {
        val got = Checks.readDuplicates(spark, out)
        val rows = if (!o.corrupt) got
          else got.updated(0, got.head.copy(_4 = got.head._4 + 1))
        Checks.checkDuplicates(expectDups, rows).foreach(fail)
        if (DbMeta.read(spark, out).isEmpty) fail("db meta missing")
      } else {
        val got = Checks.readClusters(spark, out)
        if (o.corrupt) {
          val victim = expectNear.exactGroups.head.head
          val i = got.indexWhere(_._1 == victim)
          got(i) = (victim, -1L)
        }
        Checks.checkClusters(expectNear, got) match {
          case Some(msg) => fail(msg)
          case None =>
            val fp = Checks.clusterFingerprint(got)
            if (fpFile.exists()) {
              val prev = new String(java.nio.file.Files.readAllBytes(fpFile.toPath), "UTF-8").trim
              if (prev != fp) fail(s"cluster fingerprint $fp differs from this seed's earlier $prev")
            } else java.nio.file.Files.write(fpFile.toPath, fp.getBytes("UTF-8"))
        }
      }
      Files.deleteTree(new java.io.File(out))
      bytes
    }

    // ---- set-up: session start + an untimed warm pass over the path
    val setups = (1 to (if (o.trace) 1 else spec.setUps)).map { _ =>
      stop(spark)
      val t0 = System.nanoTime()
      spark = session(o)
      val files = spark.read.parquet(table)
      val out = s"$work/warm"
      if (exact) scanJob(spark, warmSlice(files, spec), out)
      else NearDup.signalFrame(NearDup.representatives(warmSlice(files, spec),
        NearConfig()), NearConfig()).count()
      Files.deleteTree(new java.io.File(out))
      (System.nanoTime() - t0) / 1e9
    }
    phase("set-ups done")
    val files = spark.read.parquet(table)
    def job(out: String): Unit =
      if (exact) scanJob(spark, files, out) else clusterJob(files, out)
    (0 until spec.warmUnits).foreach { i =>
      hygiene(spark)
      val out = s"$work/warm-$i"
      job(out)
      Files.deleteTree(new java.io.File(out))
    }
    phase("warm units done")
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]

    if (!o.trace) {
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      val walls = mutable.ArrayBuffer.empty[Double]
      var bytes = 0L
      var i = 0
      while ((i < spec.minUnits || System.nanoTime() < deadline) && elapsedS < HardStopS) {
        hygiene(spark)
        val out = s"$work/job-$i"
        val t0 = System.nanoTime()
        attempt(job(out)).foreach { _ =>
          walls += (System.nanoTime() - t0) / 1e9
          bytes = checkJob(out)
        }
        i += 1
      }
      val jobS = if (walls.isEmpty) 0.0 else median(walls.toSeq)
      System.err.println(s"[perfbench] ${o.workload} seed ${o.seed}: jobs " +
        walls.map(w => f"$w%.3f").mkString("[", " ", "]") +
        " setups " + setups.map(w => f"$w%.3f").mkString("[", " ", "]"))
      metrics += (("setup_s", median(setups), "s"))
      metrics += (("job_s", jobS, "s"))
      metrics += (("files_per_s", if (jobS > 0) nFiles / jobS else 0.0, "files/s"))
      metrics += (("db_bytes_per_file", bytes.toDouble / nFiles, "B/file"))
    } else {
      val tr = new Tracer(spark, s"${o.workload}-${o.seed}")
      val ex = mutable.Map.empty[String, Double]
      hygiene(spark)
      val out0 = s"$work/untraced"
      val t0 = System.nanoTime()
      attempt(job(out0))
      val untraced = (System.nanoTime() - t0) / 1e9
      checkJob(out0)
      hygiene(spark)
      val out1 = s"$work/traced"
      attempt {
        if (exact) scanTraced(spark, files, out1, tr, nFiles, ex)
        else clusterTraced(files, out1, tr, ex)
      }.foreach { wall =>
        val covered = (if (exact) Seq("exact.size_prune", "exact.prefix_hash",
            "exact.full_hash", "state.db_write")
          else LayerSpans.filter(s => s.startsWith("near.") || s == "cluster.cc"))
          .map(tr.total(_).wallS).sum
        if (exact) {
          // the query layer: a closed loop of one client against the db the
          // traced scan stored, each op re-checked against the db's rows
          hygiene(spark)
          val q = new DbQueries(spark, files, out1, work.getPath, o.seed, Some(tr))
          (0 until q.block.size).foreach(k => attempt(q.run(k)).foreach(_().foreach(fail)))
        }
        checkJob(out1)
        val lm = layerMetrics(tr, ex, wall) ++ Map(
          "trace.overhead_s" -> (wall - untraced), "trace.span_coverage" -> covered / wall)
        metrics ++= PerLayer.map { case (n, u) => (n, lm(n), u) }
      }
      val spansOut = new java.io.File(o.root, s"traces/${o.workload}-seed${o.seed}.jsonl")
      spansOut.getParentFile.mkdirs()
      java.nio.file.Files.write(spansOut.toPath, tr.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      tr.close()
    }
    phase("measured and checked")
    stop(spark)
    Files.deleteTree(work)
    val correct = failed == 0 && attempted > 0 && metrics.nonEmpty
    println(resultLine(correct, attempted, failed, metrics.toSeq))
    if (correct) 0 else 1
  }
}
