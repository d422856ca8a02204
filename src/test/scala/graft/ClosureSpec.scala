package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Cluster, LinkGraph}

/** Driver/distributed parity of the two graph closures. Below
  * `Cluster.EdgeCollectCeiling` connected components and SCCs close on
  * the driver after one bounded collect; ceiling 0 forces the
  * distributed loops (star contraction, FW-BW splitting) that serve past
  * it. Both paths must emit identical rows, and the forced runs must
  * really loop.
  */
class ClosureSpec extends SparkTestBase {

  import spark.implicits._

  private val Ceiling = Cluster.EdgeCollectCeiling

  /** Seeded random edge lists with self-loops, duplicate edges, null
    * endpoints, and ids that no edge touches (isolated nodes). */
  private def randomGraph(seed: Int): (Seq[Long], Seq[(Option[Long], Option[Long])]) = {
    val rnd = new scala.util.Random(seed)
    val ids = (0 until 30 + rnd.nextInt(30)).map(_ => rnd.nextInt(1000).toLong).distinct
    def pick(): Option[Long] =
      if (rnd.nextInt(25) == 0) None else Some(ids(rnd.nextInt(ids.size)))
    val es = Seq.fill(ids.size * 6 / 5)((pick(), pick()))
    val loops = ids.take(3).map(v => (Some(v), Some(v)))
    (ids, es ++ es.take(5) ++ loops)
  }

  private def cycle(n: Long): Seq[(Option[Long], Option[Long])] =
    (0L until n).map(i => (Some(i), Some((i + 1) % n)))

  /** The same cycle over a seeded shuffle of the ids. */
  private def shuffledCycle(n: Int): Seq[(Option[Long], Option[Long])] = {
    val p = new scala.util.Random(1).shuffle((0L until n.toLong).toVector)
    p.indices.map(i => (Some(p(i)), Some(p((i + 1) % n))))
  }

  private def path(n: Long): Seq[(Option[Long], Option[Long])] =
    (0L until n - 1).map(i => (Some(i), Some(i + 1)))

  private def sccBothWays(edges: DataFrame, nodes: DataFrame): Unit = {
    assert(LinkGraph.driverScc(edges, nodes, 0L).isEmpty,
      "ceiling 0 must refuse the driver path")
    val drv = LinkGraph.driverScc(edges, nodes, Ceiling)
      .getOrElse(fail("a small graph must fit the ceiling")).collect().toSeq
    assert(LinkGraph.lastSccSweeps.contains(0) &&
      LinkGraph.lastSccUnresolved.contains(0L))
    LinkGraph.lastSccSweeps = None
    val loop = LinkGraph.sccOver(edges, nodes).collect().toSeq
    assert(LinkGraph.lastSccSweeps.exists(_ > 0), "the forced FW-BW run must sweep")
    assert(drv == loop, s"driver Tarjan and FW-BW disagree:\n" +
      s"${drv.diff(loop).take(5)} vs ${loop.diff(drv).take(5)}")
  }

  private def ccBothWays(edges: Seq[(Option[Long], Option[Long])]): Unit = {
    val df = edges.toDF("s", "t")
    def rows(ceiling: Long): Set[Row] =
      Cluster.connectedComponents(df, "s", "t", ceiling).collect().toSet
    val drv = rows(Ceiling)
    assert(Cluster.lastRunStats.exists(_._1 == 0), "below the ceiling: driver union-find")
    Cluster.lastRunStats = None
    val contracted = rows(0L)
    assert(Cluster.lastRunStats.exists(_._1 > 0), "the forced contraction must loop")
    assert(drv == contracted, s"union-find and star contraction disagree: " +
      s"${drv.diff(contracted).take(5)} vs ${contracted.diff(drv).take(5)}")
  }

  test("scc: driver Tarjan matches forced FW-BW on the nested chain of cycles") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 10L),
      (3L, 10L), (20L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L).toDF("node")
    sccBothWays(edges, nodes)
  }

  test("scc: driver Tarjan matches forced FW-BW on random digraphs") {
    for (seed <- 1 to 4) {
      val (ids, es) = randomGraph(seed)
      sccBothWays(es.toDF("src", "dst"), ids.toDF("node"))
    }
  }

  test("scc: 1024-node directed cycle and path (no recursion depth limit)") {
    val nodes = (0L until 1024L).toDF("node")
    sccBothWays(shuffledCycle(1024).toDF("src", "dst"), nodes)
    sccBothWays(path(1024).toDF("src", "dst"), nodes)
    // FW-BW's backward label crosses this cycle one hop per round (the
    // minimum sits at the far end of every ascending run), so only the
    // driver path closes it within the loop's round cap
    val one = LinkGraph.driverScc(cycle(1024).toDF("src", "dst"), nodes, Ceiling)
      .getOrElse(fail("a small graph must fit the ceiling")).collect()
    assert(one.length == 1024 && one.forall(r => r.getLong(1) == 0L && r.getLong(2) == 1024L))
  }

  test("scc: stored-graph entry returns the same rows on both paths") {
    val drv = LinkGraph.sccComponents(spark, Sf).collect().toSeq
    assert(LinkGraph.lastSccSweeps.contains(0), "sf0.001's backbone fits the ceiling")
    val loop = LinkGraph.sccComponents(spark, Sf, 0L).collect().toSeq
    assert(LinkGraph.lastSccSweeps.exists(_ > 0), "ceiling 0 must run FW-BW")
    assert(drv.nonEmpty && drv == loop)
  }

  test("scc: cold start on an empty artifact root primes the graph first") {
    val fresh = java.nio.file.Files.createTempDirectory("graft_scc_cold")
    val before = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", fresh.toString)
    try assert(LinkGraph.sccComponents(spark, Sf).count() > 0)
    finally System.setProperty("java.io.tmpdir", before)
  }

  test("connected components: driver union-find matches forced star contraction") {
    for (seed <- 1 to 4) ccBothWays(randomGraph(seed)._2)
    ccBothWays(cycle(1024))
    ccBothWays(path(1024))
  }
}
