package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.exact.{DedupConfig, ExactDedup}
import graft.query.Report
import graft.state.DbMeta

/** The query layer's client: each op is composed from the same public
  * functions `graft.cli.Main.runOp` calls for `--db` queries (which itself
  * can only read the fixture's documents layout), and each answer is
  * checked against the stored db re-read with plain filters. */
final class DbQueries(spark: SparkSession, files: DataFrame, db: String,
                      work: String, seed: Long, tracer: Option[Tracer]) {

  private val cfg = DedupConfig()

  private def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  // its own span name: state.db_open is the scan's single open, and these
  // per-op opens are part of each query.<op> span
  private def openDb(): DataFrame = span("query.db_open") {
    DbMeta.check(spark, db).foreach(w => System.err.println(s"[perfbench] db warning: $w"))
    spark.read.parquet(s"$db/duplicates")
  }

  /** The CLI's query config: the stored scan's recorded settings. */
  private def qcfg: DedupConfig = DbMeta.read(spark, db)
    .map(m => cfg.copy(hashAlg = m.alg, minSize = m.minsize, includeHidden = m.hidden))
    .getOrElse(cfg)

  private def path: org.apache.spark.sql.Column = concat(col("repo"), lit("/"), col("path"))

  private def stream(df: DataFrame): Vector[Row] = {
    val b = Vector.newBuilder[Row]
    df.toLocalIterator().forEachRemaining(r => b += r)
    b.result()
  }

  // ---- what the answers are checked against: the stored db, re-read ----
  private val dbRows: Array[(Long, String, String, Long, String)] =
    spark.read.parquet(s"$db/duplicates").select("file_id", "repo", "path", "size", "hash")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
  private val tableRows: Array[(Long, String, String)] =
    files.select("file_id", "repo", "path").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
  private val dbIds: Array[Long] = dbRows.map(_._1).sorted
  private val dbIdSet = dbIds.toSet
  private val uniqueIds: Array[Long] = tableRows.map(_._1).filterNot(dbIdSet).sorted
  private val repos: Array[String] = tableRows.map(_._2).distinct.sorted

  /** The op mix in one block of 20 ops: 35% file, 20% hash, 15% report,
    * 10% each dups, uniques and refresh. */
  val block: Seq[String] =
    Seq("file" -> 7, "hash" -> 4, "report" -> 3, "dups" -> 2, "uniques" -> 2, "refresh" -> 2)
      .flatMap { case (op, n) => Seq.fill(n)(op) }

  /** The k-th op of the seeded sequence (each block a seeded permutation
    * of the mix) and its probe file: half duplicate-set members, half
    * unique files. */
  def opAt(k: Int): (String, Long) = {
    val mix = new scala.util.Random(Gen.h(seed, 10, k / block.size)).shuffle(block)
    val op = mix(k % block.size)
    val pick = Gen.h(seed, 11, k) & Long.MaxValue
    val pool = if (pick % 2 == 0 || uniqueIds.isEmpty) dbIds else uniqueIds
    (op, pool(((pick / 2) % pool.length).toInt))
  }

  /** Run op k; returns None when its answer checks out, else the reason. */
  def run(k: Int): () => Option[String] = {
    val (op, probe) = opAt(k)
    op match {
      case "file" =>
        val (_, repo, p) = tableRows.find(_._1 == probe).get
        val got = span("query.file") {
          val id = files.where(col("repo") === repo && col("path") === p)
            .select("file_id").limit(1).collect().headOption.map(_.getLong(0))
          id.map(i => stream(ExactDedup.fileStatusesIn(openDb(), files, i, None, qcfg)
            .withColumn("p", path).orderBy("file_id")))
        }
        () => {
          val probeRow = dbRows.find(_._1 == probe)
          val expected = probeRow.toSeq.flatMap { case (_, _, pp, s, h) =>
            dbRows.filter(r => r._4 == s && r._5 == h).map { r =>
              (r._1, if (r._1 == probe) "SELF" else if (r._3 == pp) "HL" else "DUP")
            }
          }.sorted
          val answer = got.toSeq.flatten.map(r => (r.getLong(0), r.getString(3)))
          if (got.isEmpty) Some(s"file: path $repo/$p not resolved")
          else if (answer != expected) Some(s"file $probe: $answer != $expected")
          else None
        }
      case "hash" =>
        val got = span("query.hash") {
          val c = qcfg
          openDb().where(col("file_id") === probe).select("hash").limit(1).collect()
            .headOption.map(_.getString(0)).orElse(
              files.where(col("file_id") === probe)
                .select(ExactDedup.digest(col("content"), c)).collect()
                .headOption.map(_.getString(0)))
        }
        () => {
          val expected = dbRows.find(_._1 == probe).map(_._5)
            .getOrElse(Checks.sha256(files.where(col("file_id") === probe)
              .select("content").head().getString(0)))
          if (!got.contains(expected)) Some(s"hash $probe: $got != $expected") else None
        }
      case "report" =>
        val got = span("query.report") {
          Report.text(Report.reportRows(openDb(), None, 0L)).toVector
        }
        () => {
          val sets = dbRows.groupBy(r => (r._4, r._5))
          val total = sets.map { case ((s, _), m) => s * m.length }.sum
          val headers = got.count(_.contains(" total bytes used by duplicates of size "))
          val members = got.count(_.startsWith("  "))
          if (headers != sets.size || members != dbRows.length ||
              got.lastOption != Some(Report.footer(total)))
            Some(s"report: $headers sets / $members members / ${got.lastOption}, " +
              s"expected ${sets.size} / ${dbRows.length} / total $total")
          else None
        }
      case "dups" =>
        val got = span("query.dups") {
          val d = openDb()
          stream(d.join(ExactDedup.dupIdsWithExclude(openDb(), None), Seq("file_id"), "left_semi")
            .select(col("file_id"), path.as("p")).orderBy("file_id"))
        }
        () => if (!got.map(_.getLong(0)).sameElements(dbIds)) Some("dups: ids differ from the db") else None
      case "uniques" =>
        val got = span("query.uniques") {
          stream(ExactDedup.scanFilter(files, qcfg)
            .join(ExactDedup.dupIdsWithExclude(openDb(), None), Seq("file_id"), "left_anti")
            .select(col("file_id"), path.as("p")).orderBy("file_id"))
        }
        () => if (!got.map(_.getLong(0)).sameElements(uniqueIds))
          Some("uniques: ids differ from table minus db") else None
      case "refresh" =>
        val drop = repos(((Gen.h(seed, 12, k) & Long.MaxValue) % repos.length).toInt)
        val out = s"$work/refresh-$k"
        span("query.refresh") {
          ExactDedup.refresh(openDb(), files.where(col("repo") =!= drop))
            .write.mode("overwrite").parquet(out)
        }
        () => {
          val kept = dbRows.filter(_._2 != drop)
          val sizes = kept.groupBy(r => (r._4, r._5)).map { case (k2, m) => k2 -> m.length.toLong }
          val expected = kept.filter(r => sizes((r._4, r._5)) >= 2)
            .map(r => (r._1, sizes((r._4, r._5)))).toSet
          val got = spark.read.parquet(out).select("file_id", "set_size").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          Files.deleteTree(new java.io.File(out))
          if (got.toSet != expected || got.length != expected.size)
            Some(s"refresh without $drop: ${got.length} rows, expected ${expected.size}")
          else None
        }
    }
  }
}
