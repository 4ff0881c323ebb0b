package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. They use no engine code: expectations come from plain
  * Spark SQL over the landed table (or from the generator itself) and the
  * comparisons are plain Scala. Each check returns the failure reason, or
  * None when the output is right. They run outside the timed region. */
object Checks {

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  type DupRow = (Long, Long, String, Long) // file_id, size, hash, set_size

  /** exact_scan: members of every group of byte-identical content with at
    * least two files — a naive groupBy(sha2(content, 256)). */
  def expectedDuplicates(files: DataFrame): Set[DupRow] = {
    val h = files.where(col("size") >= 1)
      .select(col("file_id"), col("size"), sha2(col("content"), 256).as("hash"))
    val sets = h.groupBy("hash").agg(count(lit(1)).as("set_size"))
      .where(col("set_size") >= 2)
    h.join(sets, "hash").select("file_id", "size", "hash", "set_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
  }

  def readDuplicates(spark: SparkSession, db: String): Seq[DupRow] =
    spark.read.parquet(s"$db/duplicates")
      .select("file_id", "size", "hash", "set_size").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  def checkDuplicates(expected: Set[DupRow], got: Seq[DupRow]): Option[String] = {
    val gotSet = got.toSet
    if (gotSet.size != got.size) Some(s"${got.size - gotSet.size} repeated member rows")
    else if (gotSet != expected) {
      val missing = (expected -- gotSet).size
      val extra = (gotSet -- expected).size
      Some(s"duplicates differ from the naive sha2 grouping: $missing missing, $extra extra")
    } else None
  }

  /** What the near workloads' outputs are checked against: every file's
    * content, the groups of byte-identical files and the planted pairs the
    * engine must find. */
  final case class NearExpect(content: Map[Long, String], exactGroups: Seq[Array[Long]],
                              pairs: Seq[(Long, Long)]) {
    def fileIds: Iterable[Long] = content.keys
  }

  /** The engine's verification threshold (NearConfig.jaccardThreshold). */
  val Threshold = 0.7

  def shingles5(s: String): Set[String] = (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet

  def jaccard(x: Set[String], y: Set[String]): Double = {
    val inter = (if (x.size <= y.size) x.count(y) else y.count(x)).toDouble
    if (x.isEmpty && y.isEmpty) 1.0 else inter / (x.size + y.size - inter)
  }

  /** Character 5-shingle Jaccard, computed here from the strings. */
  def jaccard5(a: String, b: String): Double = jaccard(shingles5(a), shingles5(b))

  def nearExpect(files: DataFrame, planted: Seq[(Long, String, Long, String)]): NearExpect = {
    val content = files.select("file_id", "content").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val groups = files.select(col("file_id"), sha2(col("content"), 256).as("h"))
      .groupBy("h").agg(collect_list("file_id").as("ids"))
      .where(size(col("ids")) >= 2)
      .collect().map(_.getSeq[Long](1).toArray).toSeq
    val pairs = planted.collect {
      case (a, ca, b, cb) if jaccard5(ca, cb) >= Threshold => (a, b)
    }
    NearExpect(content, groups, pairs)
  }

  /** Clusters the engine could not have formed: connected components over
    * verified pairs join two files only through a chain of pairs whose
    * 5-shingle Jaccard is at least the threshold, so within each cluster
    * the distinct contents must be connected by such pairs (computed here).
    * Returns how many clusters are not; this catches over-merging. */
  def unjoinedClusters(content: Map[Long, String], got: Array[(Long, Long)]): Int =
    got.groupBy(_._2).values.count { members =>
      val texts = members.map(m => content.getOrElse(m._1, "")).distinct
      texts.length > 1 && {
        // by shingle-set size: a pair at the threshold has size ratio >= it
        val sets = texts.map(shingles5).sortBy(_.size)
        val parent = Array.range(0, sets.length)
        def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
        var parts = sets.length
        for (i <- sets.indices; j <- i + 1 until sets.length
             if sets(i).size >= Threshold * sets(j).size && find(i) != find(j) &&
               jaccard(sets(i), sets(j)) >= Threshold) {
          parent(find(i)) = find(j)
          parts -= 1
        }
        parts > 1
      }
    }

  def readClusters(spark: SparkSession, out: String): Array[(Long, Long)] =
    spark.read.parquet(out).select("file_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** Order-insensitive fingerprint of a (file_id, cluster_id) assignment. */
  def clusterFingerprint(rows: Array[(Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sortBy(_._1).foreach { case (f, c) =>
      md.update(java.nio.ByteBuffer.allocate(16).putLong(f).putLong(c).array())
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def checkClusters(e: NearExpect, got: Array[(Long, Long)]): Option[String] = {
    val m = got.toMap
    val recall = {
      val hit = e.pairs.count { case (a, b) => m.get(a).exists(c => m.get(b).contains(c)) }
      if (e.pairs.isEmpty) 1.0 else hit.toDouble / e.pairs.size
    }
    lazy val unjoined = unjoinedClusters(e.content, got)
    if (m.size != got.length) Some(s"${got.length - m.size} files appear more than once")
    else if (m.size != e.content.size || !e.fileIds.forall(m.contains))
      Some(s"${e.fileIds.count(i => !m.contains(i))} files missing, " +
        s"${m.size - e.fileIds.count(m.contains)} unknown files")
    else if (e.exactGroups.exists(g => g.map(m).distinct.length != 1))
      Some(s"${e.exactGroups.count(g => g.map(m).distinct.length != 1)} exact-copy " +
        "groups split across clusters")
    else if (recall < 0.99)
      Some(f"planted-pair recall $recall%.4f < 0.99 over ${e.pairs.size} pairs")
    else if (unjoined > 0)
      Some(s"$unjoined clusters join files no chain of pairs with 5-shingle Jaccard >= " +
        s"$Threshold connects")
    else None
  }
}
