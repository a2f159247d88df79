package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory union-find oracle. */
  private def ufComponents(nodes: Seq[String], edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    nodes.map(n => n -> find(n)).toMap.map { case (n, r0) =>
      // canonical = min node of component
      n -> r0
    } match {
      case m =>
        val byRoot = m.groupBy(_._2).map { case (r, g) => r -> g.keys.min }
        m.map { case (n, r) => n -> byRoot(r) }
    }
  }

  /** The star loop called directly, left-joined onto `all` the way the
    * entry joins its labels: the reference the driver path must equal.
    */
  private def starLoop(all: DataFrame, edges: DataFrame,
                       pairsPreDeduped: Boolean = false): (Map[String, String], Int) = {
    val cc = ConnectedComponents.runTracked(spark, edges, pairsPreDeduped = pairsPreDeduped)
    try {
      val got = all.join(cc.assignments, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")))
        .as[(String, String)].collect().toMap
      (got, cc.iterations)
    } finally cc.releaseCheckpoints(spark)
  }

  /** The selecting entry's assignments; asserts it took the driver path. */
  private def entry(all: DataFrame, edges: DataFrame,
                    pairsPreDeduped: Boolean = false): Map[String, String] = {
    val cc = ConnectedComponents.assignAllTracked(spark, all, edges,
      pairsPreDeduped = pairsPreDeduped)
    assert(cc.counters == Map("cc_iterations" -> 0L, "cc_driver" -> 1L) &&
      cc.checkpointIds.isEmpty, s"a small graph must take the driver path: ${cc.counters}")
    cc.assignments.as[(String, String)].collect().toMap
  }

  /** Both paths over one graph: they must agree, and the loop converge. */
  private def runCC(nodes: Seq[String], edges: Seq[(String, String)]): Map[String, String] = {
    val nodesDf = nodes.toDF("doc_id")
    val edgesDf = edges.toDF("src", "dst")
    val (star, iters) = starLoop(nodesDf, edgesDf)
    assert(iters < 50, "CC must converge")
    val got = entry(nodesDf, edgesDf)
    assert(got == star, s"driver path $got != star loop $star")
    got
  }

  test("path, star, two components, self-loop") {
    val nodes = Seq("a", "b", "c", "d", "e", "f", "g")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), // path
      ("e", "f"), // pair
      ("g", "g")) // self loop
    val got = runCC(nodes, edges)
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e", "g" -> "g"))
  }

  test("long chain (stress for iteration count, must be O(log n))") {
    val n = 64
    val nodes = (0 until n).map(i => f"n$i%03d")
    val edges = (0 until n - 1).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
    val got = runCC(nodes, edges)
    assert(got.values.toSet == Set("n000"))
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val n = 20 + rnd.nextInt(30)
      val nodes = (0 until n).map(i => f"v$i%03d")
      val m = rnd.nextInt(2 * n)
      val edges = (0 until m).map(_ => (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
      val got = runCC(nodes, edges)
      val want = ufComponents(nodes, edges)
      assert(got == want, s"trial $trial: n=$n m=$m")
    }
  }

  test("rank-encoded fallback path matches the hashed path and the oracle") {
    // the collision fallback (runRank) must stay semantically identical to
    // the default hashed encoding — same graphs through both paths
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val n = 15 + rnd.nextInt(25)
      val nodes = (0 until n).map(i => f"w$i%03d")
      val m = rnd.nextInt(2 * n) + 1
      val edges = (0 until m).map(_ => (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
      val edgesDf = edges.toDF("src", "dst")
      val viaHash = ConnectedComponents.runTracked(spark, edgesDf)
      val viaRank = ConnectedComponents.runRank(spark, edgesDf.select(col("src"), col("dst")), 50)
      val a = viaHash.assignments.as[(String, String)].collect().toMap
      val b = viaRank.assignments.as[(String, String)].collect().toMap
      assert(a == b, s"trial $trial: hash and rank paths diverge")
      val want = ufComponents(nodes, edges).filter { case (k, v) => a.contains(k) }
      assert(a == want, s"trial $trial: vs oracle (non-edge nodes excluded)")
      viaHash.releaseCheckpoints(spark); viaRank.releaseCheckpoints(spark)
    }
  }

  test("smallStar single-(u,m)-emission == per-row emission (round-6 fast path)") {
    // the round-6 smallStar emits (u, m) from the v == m rows only; the
    // round-5 form emitted it once per input row. The output SET must be
    // identical — including on inputs with duplicate rows (largeStar's
    // output, smallStar's actual input, is not deduplicated).
    import org.apache.spark.sql.functions.{greatest, least, min}
    def smallStarPerRow(edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val oriented = edges.select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
      val withM = oriented.select(col("u"), col("v"), min(col("v")).over(w).as("m"))
      withM.where(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(withM.select(col("u").as("src"), col("m").as("dst")))
        .distinct()
    }
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 5) {
      val n = 5 + rnd.nextInt(20)
      val m = 1 + rnd.nextInt(3 * n)
      // duplicates on purpose: draw WITH replacement, no dedup
      val edges = (0 until m).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a == b) (a, b + 1) else (a, b)
      }
      val df = edges.toDF("src", "dst")
      val got = ConnectedComponents.smallStar(df).as[(Long, Long)].collect().toSet
      val want = smallStarPerRow(df).as[(Long, Long)].collect().toSet
      assert(got == want, s"trial $trial: smallStar set diverged")
    }
  }

  test("the selecting entry (driver union-find) == the star loop") {
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 5) {
      val n = 10 + rnd.nextInt(30)
      val nodes = (0 until n).map(i => f"u$i%03d")
      val m = rnd.nextInt(2 * n)
      val edges = (0 until m).map(_ => (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
      // foreign endpoints on purpose: docs outside allDocIds participate
      // in components (and can supply the min) but emit no row
      val foreign = Seq(("a000", nodes.head), (nodes.last, "zzz9"))
      // self-loops and reversed duplicates: both paths drop src == dst
      // rows, and the loop dedups pairs when not promised pre-deduped
      val loops = Seq((nodes(1), nodes(1)), ("zzz8", "zzz8"))
      val reversed = edges.take(3).map(_.swap)
      val all = nodes.take(n - 2).toDF("doc_id") // some nodes excluded too
      val edgesDf = (edges ++ foreign ++ loops ++ reversed).toDF("src", "dst")
      val (want, _) = starLoop(all, edgesDf)
      assert(entry(all, edgesDf) == want, s"trial $trial: driver path and star loop diverge")
    }
    // ids mixing supplementary characters (UTF-16 surrogate pairs) with
    // U+E000..U+FFFF: UTF-16 code-unit order and Spark's UTF-8 byte
    // (code-point) order disagree on them; the labels follow Spark's
    val emoji = "\uD83D\uDE00" // U+1F600
    val ids = Seq(s"${emoji}a", "\uE000b", "\uFFFDc", s"x$emoji", "x\uE000", "y\uFFFF",
      s"y${emoji}z", "plain")
    val mixedEdges = Seq((ids(0), ids(1)), (ids(1), ids(2)), (ids(3), ids(4)), (ids(6), ids(5)))
      .toDF("src", "dst")
    val mixedAll = ids.toDF("doc_id")
    val (want, _) = starLoop(mixedAll, mixedEdges, pairsPreDeduped = true)
    assert(want(ids(0)) == "\uE000b" && want(ids(3)) == "x\uE000" && want(ids(6)) == "y\uFFFF",
      s"star-loop labels are not code-point mins: $want")
    val got = entry(mixedAll, mixedEdges, pairsPreDeduped = true)
    assert(got == want, s"code-point ids: driver $got != star loop $want")
  }

  test("pairsPreDeduped path produces identical assignments") {
    val edges = Seq(("a", "b"), ("b", "c"), ("d", "e"))
    val nodesDf = Seq("a", "b", "c", "d", "e", "f").toDF("doc_id")
    val r1 = ConnectedComponents.assignAllTracked(spark, nodesDf, edges.toDF("src", "dst"))
    val r2 = ConnectedComponents.assignAllTracked(spark, nodesDf, edges.toDF("src", "dst"),
      pairsPreDeduped = true)
    assert(r1.assignments.as[(String, String)].collect().toMap ==
      r2.assignments.as[(String, String)].collect().toMap)
    r1.releaseCheckpoints(spark); r2.releaseCheckpoints(spark)
  }
}
