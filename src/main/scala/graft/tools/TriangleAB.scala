package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf10 A/B for the PAST-the-broadcast-gate triangle fallback (VERDICT
  * r15 item 1 — the repo's single biggest sf10 line item, 178.9s).
  * Candidates, all producing the identical (a, b, c) triangle set over
  * the same persisted oriented edge relation:
  *
  *  - wedge      : the shipped r12–r15 fallback — wedge self-join on the
  *                 apex + bloom(b,c) semi-filter + shuffled-hash closing
  *                 join (replicated verbatim from Graph.triangleCounts).
  *  - wedgearr   : same bloom+SHJ closing, but the wedge stream expands
  *                 MAP-SIDE from a co-partitioned out-adjacency array
  *                 (posexplode + slice — the coOccurrenceEdges
  *                 basket-expansion trick) instead of the self-join.
  *  - intersect  : no wedge stream at all — the gate branch's
  *                 array_intersect form with the adjacency CO-PARTITIONED
  *                 on src instead of broadcast: join 1 (edges ⋈ adj on
  *                 src=a) is exchange-free, join 2 ships (a, b, an) once,
  *                 partitioned on b, against the src-partitioned adjacency.
  *
  * Each variant is timed end-to-end to the per-node count agg (the
  * query's real tail), interleaved passes, with a triangle-total
  * checksum printed so equivalence is verified in the same run.
  *
  *   runMain graft.tools.TriangleAB <sfDir> <passes> [variants,csv]
  */
object TriangleAB {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 2
    val variants = (if (args.length > 2) args(2) else "wedge,wedgearr,intersect")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))
    val spark = graft.GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // ---- shared inputs, persisted once (both arms read the same cache)
    val edges = graft.ops.Graph.coOccurrenceEdges(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count()
    val deg = edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val degU = broadcast(deg.select(col("n").as("u"), col("deg").as("du")))
    val degV = broadcast(deg.select(col("n").as("v"), col("deg").as("dv")))
    val ukey = struct(col("du").as("d"), col("u").as("n"))
    val vkey = struct(col("dv").as("d"), col("v").as("n"))
    val oriented = edges
      .join(degU, Seq("u"))
      .join(degV, Seq("v"))
      .select(
        when(ukey < vkey, col("u")).otherwise(col("v")).as("src"),
        when(ukey < vkey, col("v")).otherwise(col("u")).as("dst"),
        when(ukey < vkey, col("dv")).otherwise(col("du")).as("dd"),
        when(ukey < vkey, col("v")).otherwise(col("u")).as("dn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = oriented.count()
    val wedgeBound = oriented.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .agg(sum(col("od") * col("od"))).head().getLong(0)
    System.err.println(s"[tri-ab] |E|=$edgeCount sum_outdeg2=$wedgeBound")
    val closingRaw = oriented.select(col("src").as("b"), col("dst").as("c"))
    val p = math.max(spark.sessionState.conf.numShufflePartitions,
      (edgeCount / 250000L).toInt + 1)

    def perNode(tri: DataFrame): DataFrame = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))

    def bloomFilter(): org.apache.spark.broadcast.Broadcast[Array[Byte]] =
      graft.functions.BloomSupport.broadcastBloom(spark,
        graft.functions.BloomSupport.buildLong(
          closingRaw.select(xxhash64(col("b"), col("c")).as("k")), "k",
          Some(edgeCount), 0.05))

    // the shipped r12–r15 fallback, verbatim
    def wedge(): DataFrame = {
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.src") === col("e2.src") &&
            (col("e1.dd") < col("e2.dd") ||
              (col("e1.dd") === col("e2.dd") && col("e1.dn") < col("e2.dn"))))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      val bloom = bloomFilter()
      perNode(wedges
        .filter(graft.functions.BloomSupport.mightContainBroadcast(
          bloom, xxhash64(col("b"), col("c"))))
        .repartition(p, col("b"), col("c"))
        .join(closingRaw.repartition(p, col("b"), col("c")).hint("shuffle_hash"),
          Seq("b", "c")))
    }

    // src-partitioned copy + sorted-by-orientation adjacency, shared by
    // the two array variants (built fresh inside each timed pass so each
    // arm pays its own derivation, like the real query would)
    def srcPartitioned(): (DataFrame, DataFrame) = {
      val eSrc = oriented.select(col("src"), col("dst"), col("dd"))
        .repartition(p, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      eSrc.count()
      // (dd, dst) IS the orientation key of dst — sort_array over the
      // struct sorts neighbors in orientation order
      val adj = eSrc.groupBy(col("src"))
        .agg(sort_array(collect_list(struct(col("dd"), col("dst")))).as("nb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      adj.count()
      (eSrc, adj)
    }

    // map-side wedge expansion from the adjacency array + the same
    // bloom+SHJ closing join as `wedge`
    def wedgearr(): (DataFrame, Seq[DataFrame]) = {
      val (eSrc, adj) = srcPartitioned()
      val wedges = adj
        .select(col("src").as("a"), col("nb"), posexplode(col("nb")).as(Seq("i", "x")))
        .select(col("a"), col("x.dst").as("b"),
          explode(expr("slice(nb, i + 2, size(nb))")).as("y"))
        .select(col("a"), col("b"), col("y.dst").as("c"))
      val bloom = bloomFilter()
      (perNode(wedges
        .filter(graft.functions.BloomSupport.mightContainBroadcast(
          bloom, xxhash64(col("b"), col("c"))))
        .repartition(p, col("b"), col("c"))
        .join(closingRaw.repartition(p, col("b"), col("c")).hint("shuffle_hash"),
          Seq("b", "c"))), Seq(eSrc, adj))
    }

    // co-partitioned array_intersect: join 1 exchange-free on src,
    // join 2 ships the (a, b, an) stream once, keyed on b
    def intersect(): (DataFrame, Seq[DataFrame]) = {
      val (eSrc, adj) = srcPartitioned()
      val adjIds = adj.select(col("src"), expr("transform(nb, e -> e.dst)").as("nbrs"))
      val withAn = eSrc.select(col("src").as("a"), col("dst").as("b"))
        .join(adjIds.select(col("src").as("a"), col("nbrs").as("an")).hint("shuffle_hash"),
          Seq("a"))
      val tri = withAn
        .repartition(p, col("b"))
        .join(adjIds.select(col("src").as("b"), col("nbrs").as("bn")).hint("shuffle_hash"),
          Seq("b"))
        .select(col("a"), col("b"),
          explode(array_intersect(col("an"), col("bn"))).as("c"))
      (perNode(tri), Seq(eSrc, adj))
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long, Long)]
    for (pass <- 1 to passes; v <- variants) {
      spark.sparkContext.setJobDescription(s"tri-ab $v pass $pass")
      val t0 = System.nanoTime()
      val (df, tracked) = v match {
        case "wedge"     => (wedge(), Seq.empty[DataFrame])
        case "wedgearr"  => wedgearr()
        case "intersect" => intersect()
        case other => sys.error(s"unknown variant $other")
      }
      val row = df.agg(count(lit(1)).as("nodes"), sum(col("n_triangles")).as("tsum")).head()
      val dt = (System.nanoTime() - t0) / 1e9
      val (nodes, tsum) = (row.getLong(0), row.getLong(1))
      tracked.foreach(t => try t.unpersist(true) catch { case _: Throwable => () })
      System.err.println(f"[tri-ab] $v%-10s pass $pass: $dt%8.2fs nodes=$nodes tri_sum=$tsum")
      results += ((v, dt, nodes, tsum))
    }
    val sums = results.map(_._4).distinct
    if (sums.size > 1) System.err.println(s"[tri-ab] CHECKSUM MISMATCH: $sums")
    println("{\"metric\":\"triangle_ab\",\"sf\":\"" + sfDir + "\",\"edges\":" + edgeCount +
      ",\"sum_outdeg2\":" + wedgeBound +
      ",\"runs\":[" + results.map { case (v, t, n, s) =>
        "{\"variant\":\"" + v + "\",\"sec\":" + f"$t%.2f" + ",\"nodes\":" + n +
        ",\"tri_sum\":" + s + "}" }.mkString(",") + "]}")
    spark.stop()
  }
}
