package graft.tools

import graft.{Sessions, Tables}
import graft.graph.{GraphFrames, GraphTables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** 100x graph-analytics rehearsal (round-6 verdict #7): scales the
  * events-derived signal graph two orders past the bench SF and checks
  * the invariants that make the analytics operators 100 TB-shaped —
  * without running anything that is only survivable at small SF:
  *
  *   1. the degree-ordered forward orientation keeps the triangle wedge
  *      join's hottest key within its O(sqrt E) bound at 100x, and the
  *      full per-node triangle count actually runs there;
  *   2. the g22b median-degree hub cap is EFFECTIVE: wedge volume
  *      (Σ C(deg,2) over wedge centers — the common-neighbor kernel's
  *      exact work) drops by a measured factor on the 100x graph, and by
  *      a much larger one on a power-law synthetic where an uncapped
  *      run would be ~1e10
  *      wedges (computed analytically from the degree histogram, never
  *      executed); the capped run executes and returns rows;
  *   3. integer PageRank's per-round cost stays linear: wall time at
  *      100x within 2x of linear scaling from the base run;
  *   4. star-contraction components converge logarithmically at scale:
  *      a 2^20-node path (the adversarial diameter case) closes in
  *      <= 2*log2(n)+2 rounds — the fixture family round 5's
  *      O(diameter) implementation could never finish.
  *
  * Prints PASS/FAIL per invariant plus one JSON line; non-zero exit on
  * any FAIL. Events-only scale-up: copies with shifted event/user ids,
  * same timestamp horizon (denser stream, disjoint user populations).
  */
object GraphScaleRehearsal {

  val Offset = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft_graph100")
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(100)
    val spark = Sessions.get()
    var failures = List.empty[String]
    def check(name: String)(cond: Boolean, detail: => String): Unit =
      if (cond) println(s"PASS $name")
      else { failures ::= name; println(s"FAIL $name: $detail") }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    try {
      // ---- events x factor (graph tables only) ----
      require(java.nio.file.Paths.get(work).toAbsolutePath.normalize !=
        java.nio.file.Paths.get(src).toAbsolutePath.normalize, "work must differ from src")
      val ev = Tables.load(spark, src, "events")
      (0 until factor).map(i => ev
          .withColumn("event_id", col("event_id") + lit(Offset * i))
          .withColumn("user_id", col("user_id") + lit(Offset * i)))
        .reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$work/events.parquet")

      val g = GraphTables.forDir(spark, work)
      val und = GraphTables.undirectedSimpleEdges(g).localCheckpoint()
      val undN = und.count()

      // 1. forward-degree bound + the real triangle run at 100x
      val maxFwd = GraphTables.forwardEdges(und)
        .groupBy("lo").agg(count(lit(1)).as("f"))
        .agg(max("f")).head.getLong(0)
      val sqrtBound = 2 * math.sqrt(2.0 * undN).ceil.toLong + 1
      check("g21_forward_degree_sqrt_bound_100x")(maxFwd <= sqrtBound,
        s"max forward degree $maxFwd vs bound $sqrtBound on $undN undirected edges")
      val (triRows, triSec) = timed(GraphTables.triangleCounts(g).count())
      check("g21_triangles_run_100x")(triRows > 0, s"$triRows rows")

      // 2a. median hub cap on the 100x events graph: wedge volume drop,
      // computed from the degree histogram (the join's exact fan-out)
      def wedgeVolumes(edges: DataFrame): (Long, Long, Long) = {
        val adj = edges.select(col("u").as("n"), col("v").as("m"))
          .union(edges.select(col("v").as("n"), col("u").as("m")))
        val deg = adj.groupBy("n").agg(count(lit(1)).as("deg")).localCheckpoint()
        val hist = deg.groupBy("deg").agg(count(lit(1)).as("c"))
        import org.apache.spark.sql.expressions.Window
        val cum = hist.select(col("deg"), col("c"),
          sum("c").over(Window.orderBy("deg")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
          sum("c").over(Window.partitionBy()).as("tot"))
        val cap = cum.filter(col("cum") * 2 >= col("tot")).agg(min("deg")).head.getLong(0)
        val vols = hist.agg(
          sum(expr("c * (deg * (deg - 1) div 2)")).as("all"),
          sum(when(col("deg") <= cap, expr("c * (deg * (deg - 1) div 2)"))
            .otherwise(0L)).as("capped")).head
        (cap, vols.getLong(0), vols.getLong(1))
      }
      val (capEv, volAllEv, volCapEv) = wedgeVolumes(und)
      check("g22b_cap_effective_events_100x")(
        volCapEv > 0 && volCapEv * 2 <= volAllEv,
        s"cap $capEv: capped wedge volume $volCapEv vs uncapped $volAllEv")

      // 2b. power-law synthetic: log-uniform (Zipf-ish) destinations give
      // hub degrees ~E/ln(N); uncapped wedge volume is computed, not run
      val pn = 100000L
      val pe = 1000000L
      val logN = math.log(pn.toDouble)
      val powEdges = spark.range(pe)
        .select(
          pmod(hash(col("id"), lit(1)), lit(pn)).cast("long").as("src"),
          floor(exp(((pmod(hash(col("id"), lit(2)), lit(1000000)).cast("double") + 0.5d)
            / 1000000d) * logN) - 1d).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .withColumn("weight", lit(1L))
      val pNodes = spark.range(pn).select(col("id").as("node_id"), col("id").as("entity_id"))
      val pg = GraphFrames(spark.emptyDataFrame, pNodes, powEdges, spark.emptyDataFrame)
      val pUnd = GraphTables.undirectedSimpleEdges(pg).localCheckpoint()
      val (capPow, volAllPow, volCapPow) = wedgeVolumes(pUnd)
      check("g22b_cap_effective_power_law")(
        volCapPow > 0 && volCapPow * 10 <= volAllPow,
        s"cap $capPow: capped wedge volume $volCapPow vs uncapped $volAllPow (want >=10x drop)")
      val (g22bRows, g22bSec) = timed(
        GraphTables.commonNeighbors(pg, capAtMedianDegree = true).count())
      check("g22b_capped_runs_power_law")(g22bRows > 0, s"$g22bRows rows")

      // 3. PageRank round cost linear: 100x wall time within 2x of linear
      val gBase = GraphTables.forDir(spark, src)
      val (_, prBaseSec) = timed(GraphTables.pageRank(gBase, 3).count())
      val (prRows, prBigSec) = timed(GraphTables.pageRank(g, 3).count())
      check("g23_pagerank_linear_100x")(
        prRows > 0 && prBigSec <= factor * 2.0 * math.max(prBaseSec, 0.5),
        f"base $prBaseSec%.1fs -> 100x $prBigSec%.1fs (band: ${factor * 2.0 * math.max(prBaseSec, 0.5)}%.0fs)")

      // 4. star contraction on a 2^20-node path: logarithmic rounds
      val chainN = 1 << 20
      val chainNodes = spark.range(chainN.toLong).select(col("id").as("doc_id"))
      val chainPairs = spark.range(chainN.toLong - 1)
        .select(col("id").as("doc_i"), (col("id") + 1L).as("doc_j"))
      val ((labels, rounds), ccSec) = timed(
        graft.queries.PipelinePack.connectedComponents(chainNodes, chainPairs))
      val distinctLabels = labels.select("cluster_id").distinct().count()
      val roundBound = 2 * (math.log(chainN.toDouble) / math.log(2)).ceil.toInt + 2
      check("d13_log_rounds_million_node_path")(
        distinctLabels == 1L && rounds <= roundBound,
        s"$rounds rounds (bound $roundBound), $distinctLabels components")

      println(s"""{"dir":"$work","factor":$factor,"und_edges":$undN,""" +
        s""""g21_max_fwd":$maxFwd,"g21_sqrt_bound":$sqrtBound,"tri_sec":$triSec,""" +
        s""""g22b_cap_events":$capEv,"wedge_all_events":$volAllEv,"wedge_capped_events":$volCapEv,""" +
        s""""g22b_cap_pow":$capPow,"wedge_all_pow":$volAllPow,"wedge_capped_pow":$volCapPow,""" +
        s""""g22b_pow_sec":$g22bSec,"pr_base_sec":$prBaseSec,"pr_100x_sec":$prBigSec,""" +
        s""""cc_path_n":$chainN,"cc_rounds":$rounds,"cc_sec":$ccSec,""" +
        s""""failures":${failures.size}}""")
      if (failures.nonEmpty) {
        println(s"FAILURES: ${failures.reverse.mkString(", ")}")
        sys.exit(1)
      }
    } finally spark.stop()
  }
}
