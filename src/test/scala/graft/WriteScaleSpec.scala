package graft

import graft.api.GraftSession
import graft.graph.{NodeTableDef, PropertyGraph}

/** Plan-shape assertions for the write path: at 100 TB a SET must stay one
  * id-keyed join per touched table, CREATE must not rescan the graph, and
  * DELETE must be anti-joins — these pin that shape at the optimized-plan
  * level so a regression shows up as a test failure, not a slow cluster. */
class WriteScaleSpec extends SparkTestBase {
  import TckFixtures._

  lazy val session = new GraftSession(spark)

  def g: PropertyGraph = graph(spark,
    (1L to 50L).map(i =>
      N(i, Set("P"), Map("k" -> i, "s" -> ("v" + i)))),
    (1L until 50L).map(i => R(100 + i, i, i + 1, "NEXT")))

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def joins(df: org.apache.spark.sql.DataFrame): Int =
    "(?i)\\bjoin\\b".r.findAllIn(plan(df)).size

  test("SET compiles to exactly one left join per node table") {
    val g2 = session.update(g, "MATCH (n:P) SET n.flag = true")
    // single node table -> its updated scan is base LEFT JOIN updates
    val updated = g2.nodeDefs.head.df
    assert(joins(updated) === 1, plan(updated))
    assert("(?i)leftouter".r.findAllIn(plan(updated)).size === 1,
      plan(updated))
  }

  test("CREATE's new node table projects the driving frame, no graph rescan") {
    val g2 = session.update(g, "MATCH (n:P) CREATE (:Q {of: n.k})")
    val created = g2.nodeDefs.find(_.labels == Set("Q")).get.df
    // one scan of the pinned construct frame, zero joins
    assert(joins(created) === 0, plan(created))
  }

  test("DETACH DELETE compiles to anti-joins on the id") {
    val g2 = session.update(g, "MATCH (n:P {k: 1}) DETACH DELETE n")
    val rels = g2.relDefs.head.df
    val anti = "(?i)leftanti".r.findAllIn(plan(rels)).size
    assert(anti === 2, plan(rels)) // src side + tgt side
    val nodes = g2.nodeDefs.head.df
    assert("(?i)leftanti".r.findAllIn(plan(nodes)).size === 1, plan(nodes))
  }

  test("MERGE's created table derives from the distinct unmatched keys only") {
    val g2 = session.update(g,
      "UNWIND range(1, 1000) AS k MERGE (m:M {v: k % 7})")
    val created = g2.nodeDefs.find(_.labels == Set("M")).get.df
    assert(created.count() === 7L)
    // the created table is the pinned distinct-keys frame: no join at all
    assert(joins(created) === 0, plan(created))
  }

  test("bound-endpoint MERGE matches off the relationship scan, no node scan") {
    val ab = graph(spark,
      Seq(N(1, Set("A")), N(2, Set("B")), N(3, Set("C"))),
      Seq(R(10, 1, 2, "R")))
    val (rows, _) = session.updateWithResult(ab,
      "MATCH (a:A), (b:B) MERGE (a)-[r:R]->(b) RETURN id(r) AS x")
    val stored = session.cypher(ab, "MATCH ()-[r:R]->() RETURN id(r) AS x")
    assert(rows.collect().toSeq === stored.collect().toSeq)
    // the driving MATCH scans :A and :B once each; the MERGE match reads
    // only the :R table, binding a and b off its endpoint columns
    val nodeLeaves = ab.nodeDefs.flatMap(_.df.queryExecution.analyzed.collectLeaves())
    val plan = rows.queryExecution.analyzed
    val scans = plan.collectLeaves().count(l => nodeLeaves.exists(_.sameResult(l)))
    assert(scans === 2, plan)
  }

  test("fresh write ids fail the job past 2^12 driving partitions") {
    // the id's partition field has 12 bits: partition 4096 would overflow
    // into the neighbouring field and duplicate ids
    val wide = PropertyGraph(Seq(NodeTableDef(Set("W"),
      spark.range(0, 4097, 1, 4097).toDF("id"), "id", Map.empty, "w")), Seq.empty)
    val g2 = session.update(wide, "MATCH (n:W) CREATE (:Fresh)")
    val e = intercept[Exception] {
      g2.nodeDefs.find(_.labels == Set("Fresh")).get.df.collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
    assert(msgs.exists(_.contains("4096 (2^12) partitions")), e)
  }

  test("updated graph stays lazy: building it runs no Spark job") {
    // update() itself must not trigger actions (except DELETE's constraint
    // check) — verify via the status tracker's job counter.
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val g2 = session.update(g, "MATCH (n:P) SET n.lazyCheck = 1")
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(g2.nodeDefs.nonEmpty)
    assert(after === before,
      s"SET scheduled ${after - before} jobs before any read")
  }
}
