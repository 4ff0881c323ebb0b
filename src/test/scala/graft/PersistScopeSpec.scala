package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.util.PersistScope

/** The scope lifecycle every composite operator relies on: frames are
  * lineage-cut leaves, release frees their blocks, lazy mode keeps plans
  * inspectable. */
class PersistScopeSpec extends SparkSpec {

  private def frame: DataFrame =
    spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case lr: LogicalRDD => lr.rdd.id }

  test("a scope frame is a single checkpoint leaf; release frees its blocks") {
    val scope = new PersistScope
    val f = scope.persist(frame)
    assert(f.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      s"scope frame is not a lineage-cut leaf:\n${f.queryExecution.analyzed}")
    assert(f.collect().map(_.getLong(1)).sum == 1000L)
    // a frame built over a frame stays a leaf of its own
    val g = scope.persist(f.filter(col("k") > 2))
    assert(g.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    val ids = rddIds(f) ++ rddIds(g)
    assert(ids.size == 2)
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    scope.release()
    val live = ids.filter(spark.sparkContext.getPersistentRDDs.contains)
    assert(live.isEmpty, s"RDDs $live still persisted after release()")
  }

  test("within releases its frames when the body returns; scoped output outlives them") {
    var ids = Seq.empty[Int]
    val n = PersistScope.within { s =>
      val f = s.persist(frame)
      ids = rddIds(f)
      f.count()
    }
    assert(n == 7L)
    assert(ids.nonEmpty && !ids.exists(spark.sparkContext.getPersistentRDDs.contains))
    val out = PersistScope.scoped { s =>
      val f = s.persist(frame)
      ids = rddIds(f)
      f.filter(col("k") === 0)
    }
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains))
    assert(out.collect().map(_.getLong(1)).toSeq == Seq(143L))
  }

  test("lazy mode and unmanaged keep plain persists (full plans stay inspectable)") {
    def cached(df: DataFrame): Boolean =
      df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty
    val u = PersistScope.unmanaged.persist(frame)
    try assert(cached(u)) finally u.unpersist()
    System.setProperty(PersistScope.LazyProp, "true")
    try {
      val scope = new PersistScope
      val f = scope.persist(frame)
      try {
        assert(cached(f), s"lazy-mode persist is not an InMemoryRelation:\n" +
          f.queryExecution.withCachedData)
        assert(!f.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      } finally f.unpersist()
      val viaScoped = PersistScope.scoped(s => s.persist(frame))
      try assert(cached(viaScoped)) finally viaScoped.unpersist()
    } finally System.clearProperty(PersistScope.LazyProp)
  }
}
