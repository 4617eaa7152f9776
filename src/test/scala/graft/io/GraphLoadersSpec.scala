package graft.io

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GraphLoadersSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def res(name: String): String =
    getClass.getResource(s"/graphs/$name").getPath

  test("edge-list: header and comment lines skipped, 5 edges, 4 vertices") {
    val g = GraphLoaders.edgeList(spark, res("edgelist.graph"))
    assert(g.edges.count() === 5)
    assert(g.vertices.count() === 4)
    val e = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 1L)))
  }

  test("edge-list: 0-based file renumbered +1 like the reference") {
    val g = GraphLoaders.edgeList(spark, res("edgelist0.graph"))
    val e = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set((1L, 2L), (2L, 3L), (3L, 1L)))
  }

  test("METIS adjacency: line number is the vertex id") {
    val g = GraphLoaders.metisGraph(spark, res("metis.graph"))
    assert(g.vertices.count() === 4)
    val e = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set(
      (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 3L)))
  }

  test("METIS subgraph fmt=1111: vid/vwgt + (nbr, part, ewgt) triples") {
    val g = GraphLoaders.metisGraph(spark, res("subgraph.0"))
    assert(g.vertices.count() === 4)
    val vw = g.vertices.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vw === Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.5, 4L -> 1.0))
    val e = g.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(e === Set(
      (1L, 2L, 1.5, 0), (1L, 3L, 2.0, 1),
      (2L, 1L, 1.5, 0), (2L, 4L, 1.0, 1),
      (3L, 1L, 2.0, 0),
      (4L, 2L, 1.0, 0)))
  }

  test("METIS subgraph fmt=0011 auto-decoded: implicit row-order vid, no vwgt") {
    val g = GraphLoaders.metisGraph(spark, res("subgraph01.0"))
    val vw = g.vertices.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vw === Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    val e = g.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(e === Set(
      (1L, 2L, 1.5, 0), (1L, 3L, 2.0, 1),
      (2L, 1L, 1.5, 0), (2L, 4L, 1.0, 1),
      (3L, 1L, 2.0, 0),
      (4L, 2L, 1.0, 1)))
  }

  test("METIS adjacency: a leading % comment is not counted as a row") {
    val g = GraphLoaders.metisGraph(spark, res("metis_comment.graph"))
    assert(g.vertices.count() === 4)
    val e = g.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e === Set(
      (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 3L)))
  }

  test("METIS subgraph fmt=0011: a blank row is an isolated vertex, later rows keep their ids") {
    val g = GraphLoaders.metisGraph(spark, res("subgraph01_blank.0"))
    assert(g.vertices.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    val e = g.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(e === Set(
      (1L, 3L, 2.0, 0),
      (3L, 1L, 2.0, 0), (3L, 4L, 1.0, 1),
      (4L, 3L, 1.0, 1)))
  }

  test("a row that fits no fmt shape fails the read, naming the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bad")
    val base = s"$dir/bad"
    // `2 1.0 1 0` has 4 tokens: vid, vwgt, then a neighbor missing its weight
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base.subgraph.0"),
      "2 1 1111 1\n1 1.0 2 0 1.0\n2 1.0 1 0\n")
    val path = s"$base.subgraph.0"
    val e1 = intercept[Exception](GraphLoaders.partitionStats(spark, base, 1).collect())
    assert(e1.getMessage.contains(path), e1.getMessage)
    val e2 = intercept[Exception](GraphLoaders.metisGraph(spark, path).edges.collect())
    assert(e2.getMessage.contains(path), e2.getMessage)
    // adjacency (no vid column): a third non-blank row past nvtxs = 2
    val adj = s"$dir/extra.graph"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(adj), "2 1\n2\n1\n1\n")
    val e3 = intercept[Exception](GraphLoaders.metisGraph(spark, adj).edges.collect())
    assert(e3.getMessage.contains(adj), e3.getMessage)
  }

  test("partstats vs a hand-partitioned reference-style 3-part fixture") {
    // ref3.graph.subgraph.{0,1,2}: 3-token `nvtxs nedges 1111` headers,
    // leading-space rows, one tab-separated row, isolated vertex 9.
    // Undirected edges 1-2 1-3 2-3 3-4 4-5 5-6 6-7 7-8 5-8 2-6, owners
    // {1,2,3} → 0, {4,5,9} → 1, {6,7,8} → 2. Hand count of edge records
    // whose neighbor lives on another part:
    // part 0: 2→6, 3→4 (2 of 8); part 1: 4→3, 5→6, 5→8 (3 of 5);
    // part 2: 6→5, 6→2, 8→5 (3 of 7).
    val stats = GraphLoaders.partitionStats(spark, res("ref3.graph.subgraph.0")
      .stripSuffix(".subgraph.0"), 3)
    val rows = stats.orderBy("part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows === Array((0L, 3L, 8L, 2L, 25.0), (1L, 3L, 5L, 3L, 60.0),
      (2L, 3L, 7L, 3L, 42.86)))
    val (vImbal, eImbal, cuts) = GraphLoaders.partitionImbalance(stats)
    assert(math.abs(vImbal - 1.0) < 1e-9) // 3·3/9
    assert(math.abs(eImbal - 1.2) < 1e-9) // 3·8/20
    assert(cuts === 8L)
    // the tab-separated row parses like the others
    val five = GraphLoaders.metisGraph(spark, res("ref3.graph.subgraph.1")).edges
      .where("src = 5").collect().map(r => (r.getLong(1), r.getInt(3))).toSet
    assert(five === Set((4L, 1), (6L, 2), (8L, 2)))
  }

  test("writer → partitionStats → reader roundtrip keeps an isolated vertex") {
    import spark.implicits._
    // path 1-2-3-4 plus isolated vertex 5; parts 2 → {2,4} and {1,3,5}
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (2L, 3L, 1.0), (3L, 2L, 1.0),
      (3L, 4L, 1.0), (4L, 3L, 1.0)).toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 6).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-iso").toString + "/iso"
    GraphLoaders.writeMetisSubgraphs(g, parts = 2, base)
    val rows = GraphLoaders.partitionStats(spark, base, 2).orderBy("part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows === Array((0L, 2L, 3L, 3L), (1L, 3L, 3L, 3L)))
    val back = (0 until 2).map(p => GraphLoaders.metisGraph(spark, s"$base.subgraph.$p"))
    assert(back.flatMap(_.vertices.collect().map(_.getLong(0))).sorted === Seq(1L, 2L, 3L, 4L, 5L))
    val backE = back.flatMap(_.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))).sorted
    assert(backE === edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted)
  }

  test("real reference fixtures load with the documented shapes") {
    // read-only inputs from /root/reference/graph (FIXTURES.md §A)
    val rd = GraphLoaders.edgeList(spark, "/root/reference/graph/rdsmall.graph")
    assert(rd.edges.count() === 24) // 24 directed lines after the 2-line header
    assert(rd.vertices.count() === 12) // vertex 11 gap-filled as isolated
    val small = GraphLoaders.metisGraph(spark, "/root/reference/graph/small.graph")
    assert(small.vertices.count() === 10)
    assert(small.edges.count() === 20) // 10 undirected edges, both directions
    val sub = GraphLoaders.metisGraph(spark, "/root/reference/graph/small.graph.subgraph.0")
    assert(sub.vertices.count() > 0 && sub.edges.count() > 0)
  }

  test("in-repo fixtures load with the documented shapes") {
    // rd8.graph: 2-line header `8` / `14`, then 7 undirected edges
    // (1-2 1-3 2-3 3-4 3-5 4-5 7-8) as 14 directed lines; ids run 1..8 and
    // vertex 6, in no edge, is gap-filled as isolated.
    val rd = GraphLoaders.edgeList(spark, res("rd8.graph"))
    assert(rd.edges.count() === 14) // 14 directed lines after the 2-line header
    assert(rd.vertices.count() === 8)
    // small10.graph: header `10 10`, one row per vertex, each of the 10
    // undirected edges listed from both ends
    val small = GraphLoaders.metisGraph(spark, res("small10.graph"))
    assert(small.vertices.count() === 10)
    assert(small.edges.count() === 20)
    // ref3.graph.subgraph.0: 3 vertex rows holding 2 + 3 + 3 edge triples
    val sub = GraphLoaders.metisGraph(spark, res("ref3.graph.subgraph.0"))
    assert(sub.vertices.count() === 3 && sub.edges.count() === 8)
  }

  test("subgraph writer roundtrip: write 2 parts, read back == original") {
    // small.graph is METIS adjacency (FIXTURES.md §A2), so it is read with
    // the METIS reader: the edge-list reader would turn the `10 10` header
    // into a self-loop and drop every 1-token row. Both id-mod-2 classes
    // keep vertices and edges (1 and 2 are adjacent); at 3 parts the
    // writer would accept it too, since 3 in part 0 owns edges to 1 and 2.
    val src = GraphLoaders.metisGraph(spark, "/root/reference/graph/small.graph")
    val base = java.nio.file.Files.createTempDirectory("graft-sgw").toString + "/small"
    GraphLoaders.writeMetisSubgraphs(src, parts = 2, base)
    val back = (0 until 2).map(p => GraphLoaders.metisGraph(spark, s"$base.subgraph.$p"))
    val origE = src.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val backE = back.flatMap(_.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))).toSet
    assert(backE === origE)
    val origV = src.vertices.collect().map(_.getLong(0)).toSet
    val backV = back.flatMap(_.vertices.collect().map(_.getLong(0))).toSet
    assert(backV === origV)
    // owners in the files follow the id-mod-parts convention
    val owners = back.flatMap(_.edges.select("dst", "dst_part").collect()
      .map(r => r.getLong(0) -> r.getInt(1)))
    owners.foreach { case (dst, dp) => assert(dp === (dst % 2).toInt) }
  }

  test("subgraph writer: fractional weights roundtrip via the float path") {
    import spark.implicits._
    // Weights 0.5/2.25 must NOT truncate to 0/2 (the pre-fix int cast);
    // the writer switches every weight token to the reference's isfewgts
    // float representation when any weight is fractional.
    val edges = Seq((1L, 2L, 0.5), (2L, 1L, 0.5), (1L, 3L, 2.25), (3L, 1L, 2.25),
      (2L, 3L, 1.0), (3L, 2L, 1.0)).toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 4).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-sgwf").toString + "/frac"
    GraphLoaders.writeMetisSubgraphs(g, parts = 1, base)
    val back = GraphLoaders.metisGraph(spark, s"$base.subgraph.0")
    val backE = back.edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(backE === edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("subgraph writer refuses an empty part (reference reader errexits on it)") {
    import spark.implicits._
    // 2 vertices, parts=3 → at least one id-mod-parts class is empty; the
    // reference's graph_Read rejects nvtxs<=0||nedges<=0 (graph.h:587-588),
    // so the writer must fail loudly instead of emitting an unreadable file.
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 3).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-sgwe").toString + "/empty"
    val ex = intercept[IllegalArgumentException] {
      GraphLoaders.writeMetisSubgraphs(g, parts = 3, base)
    }
    assert(ex.getMessage.contains("empty"))
  }

  test("partstats vs the reference's hand-partitioned small.graph (partition.h:469-542)") {
    // Hand count from /root/reference/graph/small.graph.subgraph.{0,1,2}:
    // part 0 owns {3,8,9} (6 edge records, 2 pointing off-part: 3→1, 3→2),
    // part 1 owns {1,4,5,10} (8 records, cut 1→2 and 1→3),
    // part 2 owns {2,6,7} (6 records, cut 2→1 and 2→3).
    // Imbalance (nparts·max/sum): vertices 3·4/10 = 1.2, edges 3·8/20 = 1.2.
    val stats = GraphLoaders.partitionStats(
      spark, "/root/reference/graph/small.graph", 3)
    val rows = stats.orderBy("part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows === Array((0L, 3L, 6L, 2L), (1L, 4L, 8L, 2L), (2L, 3L, 6L, 2L)))
    val (vImbal, eImbal, cuts) = GraphLoaders.partitionImbalance(stats)
    assert(math.abs(vImbal - 1.2) < 1e-9)
    assert(math.abs(eImbal - 1.2) < 1e-9)
    assert(cuts === 6L)
  }

  test("partstats on our own writer's output: zero cut for a 1-part write") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (2L, 3L, 1.0), (3L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val g = graft.graph.PropertyGraph(
      spark.range(1, 4).select(org.apache.spark.sql.functions.col("id")), edges)
    val base = java.nio.file.Files.createTempDirectory("graft-ps").toString + "/ps"
    GraphLoaders.writeMetisSubgraphs(g, parts = 1, base)
    val stats = GraphLoaders.partitionStats(spark, base, 1)
    val (vImbal, eImbal, cuts) = GraphLoaders.partitionImbalance(stats)
    assert(vImbal === 1.0 && eImbal === 1.0 && cuts === 0L)
  }

  test("locality assignment cuts strictly fewer edges than id-mod-parts (O8)") {
    // The reference's headline Zoltan capability (gmr.cpp:107-167,
    // "minimize inter-node traffic"): LPA communities balanced into
    // parts must beat the random `id mod parts` baseline on the
    // co-occurrence graph's edge cut, measured by our own partitionStats.
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val parts = 3
    val g = graft.graph.PropertyGraph(
      graft.operators.GraphQueries.vertexDegMaterialized(spark, sf).select(col("id")),
      graft.graph.PropertyGraph.symmetrize(
        graft.operators.GraphQueries.partPairsMaterialized(spark, sf)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-loc").toString
    GraphLoaders.writeMetisSubgraphs(g, parts, s"$tmp/hash")
    val (_, _, hashCut) = GraphLoaders.partitionImbalance(
      GraphLoaders.partitionStats(spark, s"$tmp/hash", parts))
    val assign = GraphLoaders.localityAssignment(
      graft.operators.GraphQueries.lpaLabelsMaterialized(spark, sf), parts)
    // total function: every labeled id assigned exactly once, to a real part
    val arows = assign.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(arows.length === arows.map(_._1).distinct.length)
    assert(arows.forall { case (_, p) => p >= 0 && p < parts })
    assert(arows.map(_._2).distinct.length === parts,
      "capacity-split LPT must populate every part")
    GraphLoaders.writeMetisSubgraphs(g, parts, s"$tmp/loc", Some(assign))
    val (_, _, locCut) = GraphLoaders.partitionImbalance(
      GraphLoaders.partitionStats(spark, s"$tmp/loc", parts))
    assert(locCut < hashCut,
      s"locality cut $locCut should beat the hash baseline $hashCut")
    // the roundtrip stays exact under a custom assignment
    val backE = (0 until parts)
      .map(p => GraphLoaders.metisGraph(spark, s"$tmp/loc.subgraph.$p").edges)
      .reduce(_ union _)
    assert(backE.count() === g.edges.count())
  }

  test("g29 locality roundtrip: cut_improved = true, totals exact, one row per part") {
    // The gated (rows-only) locality query: per-part cut columns must sum
    // to the broadcast totals, and the Zoltan claim (locality beats the
    // hash cut) must hold as data — the same property the O8 spec above
    // proves through partitionImbalance, here through the query surface.
    val rows = graft.operators.GraphQueries
      .g29LocalityRoundtrip(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    val locTot = rows.map(_.getLong(3)).sum
    val hashTot = rows.map(_.getLong(4)).sum
    rows.foreach { r =>
      assert(r.getLong(5) === locTot, "loc_cut_total must equal the per-part sum")
      assert(r.getLong(6) === hashTot, "hash_cut_total must equal the per-part sum")
      assert(r.getBoolean(7), s"locality cut $locTot must beat hash $hashTot")
    }
  }

  test("g29b locality invariants: one row, totality + balance + cut win (O8)") {
    // The oracle-checked companion (VERDICT r11 item 3): nvtxs_total
    // must equal the graph's own vertex count (totality — DuckDB
    // recomputes this side independently), every part populated, the
    // LPT capacity bound held, and the Zoltan cut claim true as data.
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val rows = graft.operators.GraphQueries.g29bLocalityInvariants(spark, sf).collect()
    assert(rows.length === 1)
    val r = rows.head
    val v = graft.operators.GraphQueries
      .vertexDegMaterialized(spark, sf).select(col("id")).count()
    assert(r.getAs[Long]("nvtxs_total") === v,
      "assignment must be total: every vertex placed exactly once")
    assert(r.getAs[Long]("parts_used") === 3L)
    assert(r.getAs[Boolean]("balance_ok"),
      "max part load must respect the LPT bound cap·(2 − 1/parts)")
    assert(r.getAs[Boolean]("cut_improved"),
      "locality cut must beat the id-mod-parts baseline")
  }

  test("integer files + SampleSort ≡ sorted concatenation (O22)") {
    val df = GraphLoaders.integers(spark, res("numbers.part.0").stripSuffix(".0") + ".*")
    val sorted = SampleSort.sort(df, "n").collect().map(_.getLong(0)).toSeq
    assert(sorted === Seq(1L, 3L, 6L, 7L, 19L, 42L, 55L, 88L, 100L))
  }
}
