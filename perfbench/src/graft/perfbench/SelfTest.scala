package graft.perfbench

import org.apache.spark.sql.functions._

/** Self-test of the generator and the output checks (run by
  * perfbench/selftest.py): one seed lands an identical table twice, another
  * seed plants different members, and each check passes on right outputs
  * and fails when one row is corrupted. Prints one line per assertion and
  * exits non-zero on any failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    Files.deleteTree(new java.io.File(root))
    val spark = Main.session(Main.Opts("selftest", 0L, 1, trace = false, root, 2))
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    def table(dir: String) = spark.read.parquet(s"$dir/files")

    val a = Gen.landed(spark, s"$root/a", "t", 7L, replicas = 2, docs = 400)
    val b = Gen.landed(spark, s"$root/b", "t", 7L, replicas = 2, docs = 400)
    val c = Gen.landed(spark, s"$root/c", "t", 8L, replicas = 2, docs = 400)
    expect(Gen.fingerprint(table(a)) == Gen.fingerprint(table(b)),
      "one seed lands an identical table twice")
    def planted(dir: String): Set[Long] = table(dir)
      .where(!col("repo").startsWith("src")).select("file_id").collect().map(_.getLong(0)).toSet
    expect(planted(a) != planted(c), "another seed plants different members")
    expect(table(a).where(col("content").endsWith(" dup")).count() > 0,
      "documents that copy another one are present")
    expect(Seq("mirror", "mirror2", "fork", "foil").forall(v =>
        table(a).where(col("repo").startsWith(v + "_")).count() > 0),
      "every planted variant is present")

    val dups = Checks.expectedDuplicates(table(a))
    val rows = dups.toSeq
    expect(Checks.checkDuplicates(dups, rows).isEmpty, "exact check passes on the right rows")
    expect(Checks.checkDuplicates(dups, rows.updated(0, rows.head.copy(_4 = rows.head._4 + 1))).nonEmpty,
      "exact check fails on one corrupted row")
    expect(Checks.checkDuplicates(dups, rows.tail).nonEmpty, "exact check fails on one missing row")

    val spec = Main.Spec("t", replicas = 2, docs = 400, warmUnits = 0, minUnits = 1, setUps = 1, slice = 1)
    val near = Checks.nearExpect(table(a), Main.plantedPairs(7L, spec))
    // a right assignment: union-find over exact-copy groups and planted pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    def union(x: Long, y: Long): Unit = { val (p, q) = (find(x), find(y)); if (p != q) parent(math.max(p, q)) = math.min(p, q) }
    near.exactGroups.foreach(g => g.tail.foreach(union(g.head, _)))
    near.pairs.foreach { case (x, y) => union(x, y) }
    val right = near.fileIds.toArray.map(f => (f, find(f)))
    expect(near.pairs.nonEmpty && near.exactGroups.nonEmpty, "near expectations have planted pairs")
    expect(Checks.checkClusters(near, right).isEmpty, "near check passes on a right assignment")
    val victim = near.exactGroups.head.head
    expect(Checks.checkClusters(near, right.map { case (f, k) => (f, if (f == victim) -1L else k) }).nonEmpty,
      "near check fails when one exact copy leaves its cluster")
    expect(Checks.checkClusters(near, right :+ right.head).nonEmpty,
      "near check fails on a repeated file")
    val inGroup = near.exactGroups.flatten.toSet
    val bSides = near.pairs.map(_._2).filterNot(inGroup).toSet
    expect(Checks.checkClusters(near, right.map { case (f, k) => (f, if (bSides(f)) -f else k) }).nonEmpty,
      "near check fails when planted pairs are split")
    val kA = find(near.pairs.head._1)
    val kB = right.map(_._2).find(_ != kA).get
    expect(Checks.checkClusters(near, right.map { case (f, k) => (f, if (k == kB) kA else k) }).nonEmpty,
      "near check fails when two unrelated clusters are merged")
    expect(Checks.unjoinedClusters(near.content, right.map { case (f, _) => (f, 0L) }) == 1,
      "near check fails when every file is put in one cluster")
    expect(Checks.clusterFingerprint(right) == Checks.clusterFingerprint(right.reverse),
      "cluster fingerprint ignores row order")

    spark.stop()
    Files.deleteTree(new java.io.File(root))
    sys.exit(if (failures == 0) 0 else 1)
  }
}
