package graft

import graft.obs.SparkTally

/** Pins the Spark tally ([[SparkTally]]) against real executions: a keyed
  * aggregate must register shuffle bytes, a narrow job must register
  * none, the stage rows must add up to the totals, and job rows must
  * carry their job group — so the per-query `shuffle_*_mb` fields in the
  * bench artifact can be trusted as measurements, not zeros from a
  * silently-detached listener. */
class BenchTallySpec extends SparkSpec {
  private def withTally[T](f: SparkTally => T): T = {
    val tally = SparkTally.attach(spark.sparkContext)
    try f(tally) finally tally.detach()
  }

  test("SparkTally measures real shuffle bytes and stays silent on narrow jobs") {
    withTally { tally =>
      val pre = tally.totals()
      // a genuine exchange: groupBy forces a hash-partitioned shuffle
      spark.range(0L, 100000L, 1L, 4)
        .selectExpr("id % 97 as k", "id as v")
        .groupBy("k").count().collect()
      val post = tally.totals()
      assert(post.shuffleWrite > pre.shuffleWrite, "no shuffle write bytes recorded")
      assert(post.shuffleRead > pre.shuffleRead, "no shuffle read bytes recorded")
      val d = post - pre
      val stages = tally.stages()
      assert(stages.map(_.shuffleWrite).sum === d.shuffleWrite)
      assert(stages.map(_.shuffleRead).sum === d.shuffleRead)
      // a narrow job adds nothing
      val pre2 = tally.totals()
      spark.range(1000).selectExpr("id * 2").collect()
      val post2 = tally.totals()
      assert(post2.shuffleWrite == pre2.shuffleWrite && post2.shuffleRead == pre2.shuffleRead,
        "narrow job charged shuffle bytes")
    }
  }

  test("SparkTally job rows carry the job group") {
    withTally { tally =>
      spark.sparkContext.setJobGroup("g", "tally group test")
      try spark.range(10).count() finally spark.sparkContext.clearJobGroup()
      assert(tally.jobs().exists(_.group.contains("g")))
    }
  }

  test("awaitAll runs every job in the caller's job group") {
    import graft.operators.Postings
    val sc = spark.sparkContext
    def counts(n: Int) = Seq.tabulate(n)(i => () => spark.range(i + 1L).count(): Unit)
    withTally { tally =>
      // pool threads created during the first call inherit group A
      sc.setJobGroup("await-a", "await-a")
      try Postings.awaitAll(counts(4)) finally sc.clearJobGroup()
      tally.clear()
      sc.setJobGroup("await-b", "await-b")
      try Postings.awaitAll(counts(4)) finally sc.clearJobGroup()
      val groups = tally.jobs().map(_.group)
      assert(groups.nonEmpty && groups.forall(_.contains("await-b")),
        s"job groups of the second call: ${groups.mkString(", ")}")
    }
  }
}
