package graft.io

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphOps, Materialize, PropertyGraph}

/** Loaders for the reference's text graph formats (SURVEY.md §2.1
  * O1/O4/O5/O6, FIXTURES.md §A): [[edgeList]] for edge lists, and ONE
  * header-driven reader for the METIS family — adjacency files and
  * `*.subgraph.N` files, whose `nvtxs nedges [fmt [ncon]]` header says
  * which columns every row carries ([[metisGraph]], [[metisRecords]],
  * [[partitionStats]]). The readers are thin declarative pipelines over
  * `spark.read.text` — Spark's FileScan already does byte-range parallel
  * ingestion with line realignment, which is the entire point of the
  * reference's 275-line manual reader (`/root/reference/graph.h:274-549`);
  * none of its separator-discovery/owner-lookup machinery is needed.
  */
object GraphLoaders {

  /** Comment prefixes the reference skips: `#`, `%`, `c`
    * (`/root/reference/partition.h:368-396`). */
  private def isComment(c: org.apache.spark.sql.Column) =
    c.startsWith("#") || c.startsWith("%") || c.startsWith("c") || trim(c) === ""

  /** A1: edge-list format — one `src dst [weight]` pair per line; optional
    * header lines carry a single count token each and are dropped; a
    * 0-based file is renumbered +1 like the reference
    * (`/root/reference/partition.h:435-437`). Ids absent from the edge
    * list are back-filled as isolated vertices so the id space stays
    * dense 1..max — the reference's gap-fill behavior
    * (`partition.h:628-642`; e.g. rdsmall.graph declares 12 vertices but
    * vertex 11 appears in no edge). */
  def edgeList(spark: SparkSession, path: String): PropertyGraph = {
    val toks = spark.read.text(path)
      .where(!isComment(col("value")))
      .select(split(trim(col("value")), "\\s+").as("t"))
      .where(size(col("t")) >= 2) // single-token lines = header counts
      .select(
        element_at(col("t"), 1).cast("long").as("src"),
        element_at(col("t"), 2).cast("long").as("dst"),
        coalesce(try_element_at(col("t"), lit(3)).cast("double"), lit(1.0)).as("weight"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // min and max id in one job over the parse
    val bounds = toks.agg(least(min(col("src")), min(col("dst"))),
      greatest(max(col("src")), max(col("dst")))).first()
    val zeroBased = bounds.getLong(0) == 0L
    val edges = if (zeroBased)
        toks.select((col("src") + 1).as("src"), (col("dst") + 1).as("dst"), col("weight"))
      else toks
    val maxId = bounds.getLong(1) + (if (zeroBased) 1 else 0)
    PropertyGraph(spark.range(1, maxId + 1).select(col("id")), edges)
  }

  /** The columns a 4-digit fmt mask gives every data row, decoded like the
    * reference (`graph.h:592-597`, `sprintf("%04zu", fmt)`):
    * vertex id, vertex weights (× ncon), edge weights, per-edge owner part;
    * per-edge order nbr, loc, weight (`graph.h:677-698`). fmt 0 = adjacency. */
  private final case class MetisShape(fmt: Int, ncon: Int) {
    val Seq(vid, vwgt, ewgt, loc) = Seq(1000, 100, 10, 1).map(d => fmt / d % 10 == 1)
    /** Data rows carry `vOff + k·stride` tokens: vertex columns, then k neighbors. */
    val vOff: Int = (if (vid) 1 else 0) + (if (vwgt) ncon else 0)
    val stride: Int = 1 + (if (loc) 1 else 0) + (if (ewgt) 1 else 0)
  }

  /** A header `nvtxs nedges [fmt [ncon]]`: the first non-comment,
    * non-blank line, at 0-based position `row` among the non-comment
    * lines; a missing fmt is 0. */
  private final case class MetisHeader(path: String, line: String, row: Long) {
    private val t = line.trim.split("\\s+")
    val nvtxs: Long = t(0).toLong
    val nedges: Long = if (t.length >= 2) t(1).toLong else 0L
    val tokens: Int = t.length
    private val fmt = if (t.length >= 3) t(2).toInt else 0
    require(fmt <= 1111, s"$path: Cannot read this type of file format $fmt") // graph.h:590
    val shape: MetisShape = MetisShape(fmt, // ncon 0 reads as 1, graph.h:599
      if (t.length >= 4 && t(3).toInt > 0) t(3).toInt else 1)
    /** The vid column names each vertex and the header fits no data row's
      * shape, so rows are told apart by content, not position. */
    val positionFree: Boolean = shape.vid &&
      (t.length < shape.vOff || (t.length - shape.vOff) % shape.stride != 0)
  }

  private def isMetisComment(line: String): Boolean =
    line.trim.startsWith("#") || line.trim.startsWith("%")

  /** Reads a file's header through the Hadoop FileSystem API (the
    * writer's rename API): a few bytes, no Spark job. */
  private def metisHeader(spark: SparkSession, path: String): MetisHeader = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) // fail like a Spark read of the file
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filterNot(isMetisComment).zipWithIndex
      .collectFirst { case (l, i) if l.trim.nonEmpty => MetisHeader(path, l, i.toLong) }
      .getOrElse(throw new IllegalArgumentException(s"$path: no METIS header line"))
    finally in.close()
  }

  /** Is `path` a METIS adjacency file? Its first line must read as a
    * header `nvtxs nedges [fmt [ncon]]`, and its data rows must number
    * nvtxs (a blank row is an isolated vertex) and hold 2·nedges
    * adjacency entries. The header is read on the driver, the rows and
    * their tokens are counted by one scan job. An edge list fails: its
    * first edge read as a header claims far fewer vertices than it has
    * rows. */
  def isMetisAdjacency(spark: SparkSession, path: String): Boolean =
    scala.util.Try(metisHeader(spark, path)).toOption.exists { h =>
      val (lines, tokens) = spark.sparkContext.textFile(path, 1)
        .filter(l => !isMetisComment(l))
        .aggregate((0L, 0L))((acc, l) =>
          (acc._1 + 1, acc._2 + l.trim.split("\\s+").count(_.nonEmpty)),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      val rows = lines - h.row - 1
      rows == h.nvtxs &&
        tokens - h.tokens == rows * h.shape.vOff + 2 * h.nedges * h.shape.stride
    }

  /** A file's vertex rows `(part, file, row, value)`, `row` = 1-based row
    * position. A position-free file (all [[writeMetisSubgraphs]] output) is
    * a splittable text scan; its comment, blank and header lines get a null
    * `value` before the filter, as consumers' pushed-down predicates may run
    * first. Other files take an indexed read: comments are dropped before
    * rows are numbered; without a vid column blank rows are isolated
    * vertices and rows past nvtxs must be blank. */
  private def metisLines(spark: SparkSession, h: MetisHeader, part: Long): DataFrame = {
    import spark.implicits._
    if (h.positionFree)
      spark.read.text(h.path).select(lit(part).as("part"), lit(h.path).as("file"),
          lit(null).cast("long").as("row"),
          when(col("value") =!= h.line && !col("value").rlike("^\\s*([#%]|$)"), col("value"))
            .as("value"))
        .where(col("value").isNotNull)
    else
      spark.sparkContext.textFile(h.path).filter(l => !isMetisComment(l)).zipWithIndex()
        .filter { case (l, i) =>
          i > h.row && (l.trim.nonEmpty || (!h.shape.vid && i - h.row <= h.nvtxs)) }
        .map { case (l, i) =>
          require(h.shape.vid || i - h.row <= h.nvtxs,
            s"${h.path}: row ${i - h.row} is past the header's nvtxs=${h.nvtxs}")
          (part, h.path, i - h.row, l)
        }.toDF("part", "file", "row", "value")
  }

  /** The one METIS-family row parser (SURVEY.md §2.1 O4/O5, FIXTURES.md §A):
    * lines of one shape → `(part, id, vweight, ns: array<struct<dst,
    * dst_part, weight>>)`. Tokens split on whitespace runs; a blank row has
    * no neighbours; a row fitting no `vOff + k·stride` shape fails the job
    * through `raise_error` naming the file (lazy: no extra action).
    * `dst_part` (null without the owner column) plays no role in placement. */
  private def metisRows(lines: DataFrame, s: MetisShape): DataFrame = {
    val t = col("t")
    val n = size(t)
    // Column j of every neighbor, one pass over the row: a lambda indexing
    // `t` per neighbor re-splits the row per neighbor wherever Spark inlines
    // `t` (e.g. into explode's inferred size(ns) > 0 filter), O(k²) per row.
    def nbrCol(j: Int, tpe: String) =
      filter(t, (_, i) => i >= s.vOff && (i - s.vOff) % s.stride === j).cast(s"array<$tpe>")
    val k = ((n - s.vOff) / s.stride).cast("int")
    lines
      .select(col("part"), col("file"), col("row"), col("value"),
        array_remove(split(col("value"), "\\s+"), "").as("t"))
      .select(col("part"), col("row"),
        when(t.isNull || n >= s.vOff && (n - s.vOff) % s.stride === 0, t)
          .otherwise(raise_error(concat(col("file"), lit(s": row fits no fmt=${s.fmt} " +
            s"shape (${s.vOff} + k*${s.stride} tokens): "), col("value")))).as("t"))
      .select(col("part"),
        (if (s.vid) element_at(t, 1).cast("long") else col("row")).as("id"),
        (if (s.vwgt) element_at(t, if (s.vid) 2 else 1).cast("double") else lit(1.0))
          .as("vweight"),
        arrays_zip(nbrCol(0, "bigint").as("dst"),
          (if (s.loc) nbrCol(1, "int") else array_repeat(lit(null).cast("int"), k))
            .as("dst_part"),
          (if (s.ewgt) nbrCol(s.stride - 1, "double") else array_repeat(lit(1.0), k))
            .as("weight")).as("ns"))
  }

  /** [[metisRows]] records of a set of METIS-family files, `part` = the
    * file's index in `paths`. Files of one shape are parsed as one union,
    * so a set of position-free parts is one scan job. */
  def metisRecords(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths.zipWithIndex.map { case (p, i) => (metisHeader(spark, p), i.toLong) }
      .groupBy(_._1.shape).map { case (shape, hs) =>
        metisRows(hs.map { case (h, i) => metisLines(spark, h, i) }.reduce(_ union _), shape)
      }.reduce(_ union _)

  /** `basePath.subgraph.0 .. basePath.subgraph.(parts-1)`. */
  def subgraphFiles(basePath: String, parts: Int): Seq[String] =
    (0 until parts).map(p => s"$basePath.subgraph.$p")

  /** A2/A3: one METIS adjacency or subgraph file as `vertices(id, vweight)`
    * and `edges(src, dst, weight, dst_part)`. Without vid and vertex-weight
    * columns the vertex set is the header's `1..nvtxs`, with no scan
    * (isolated vertices included — the gap-fill of `partition.h:628-642`). */
  def metisGraph(spark: SparkSession, path: String): PropertyGraph = {
    val h = metisHeader(spark, path)
    val recs = metisRows(metisLines(spark, h, 0L), h.shape)
    val vertices =
      if (h.shape.vid || h.shape.vwgt) recs.select(col("id"), col("vweight"))
      else spark.range(1, h.nvtxs + 1).select(col("id"), lit(1.0).as("vweight"))
    // explode_outer + null filter, not explode: for explode Spark infers a
    // size(ns) > 0 filter and pushes it below the parse, parsing every
    // row twice.
    PropertyGraph(vertices, recs.select(col("id").as("src"), explode_outer(col("ns")).as("e"))
      .where(col("e").isNotNull)
      .select(col("src"), col("e.dst").as("dst"), col("e.weight").as("weight"),
        col("e.dst_part").as("dst_part")))
  }

  /** A4: whitespace-separated integer files (the reference's sample-sort
    * inputs, `/root/reference/samplesort.cpp:41-58`). */
  def integers(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.text(pathGlob)
      .select(explode(split(trim(col("value")), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("tok").cast("long").as("n"))

  /** Writer for the pre-partitioned subgraph format [[metisGraph]]
    * reads — the output side of the reference's partition-and-scatter
    * pre-processing (`graph.h` writes `<file>.subgraph.<p>` per rank with
    * the `sprintf("%04zu", fmt)` header, fmt = 1111: vid, vwgt, and per
    * edge `nbr nbrloc ewgt`). Owner = `id mod parts` by default (the
    * hash-partition convention, SURVEY §2.1 O7) or an explicit
    * `(id, part)` assignment frame — the [[localityAssignment]] path,
    * the engine's analog of the reference's Zoltan locality partitioner
    * (`gmr.cpp:107-167`, O8). The assignment frame must carry AT MOST
    * one row per id (a duplicate id duplicates that vertex's line);
    * ids it misses fall back to `id mod parts`. Neighbors are listed
    * in ascending id order so the output is deterministic.
    *
    * The line construction is fully distributed (per-vertex adjacency
    * grouping — one shuffle); only the final per-part file emission is
    * single-task-per-part (the format contract: one file per reference
    * rank, so write parallelism IS the part count — faithful to what it
    * replaces, the reference's own partitioner running in-memory on
    * rank 0). The header rides as each part's first ROW (the counts are
    * known before the write), so finishing a file is one O(1) rename —
    * no second byte pass. Renames go through the Hadoop FileSystem API,
    * so the writer works against whatever filesystem `basePath`
    * resolves to (local, HDFS, S3A), not just driver-local disk.
    *
    * Weights: integral weights are written as integer tokens (the
    * reference's default `iss >> iewgt` path); if ANY edge weight is
    * fractional, ALL weights are written as float tokens instead — the
    * reference's `isfewgts` float path (`graph.h:609-612,692-695`). A
    * file mixes the two never, since the reader parses one type.
    *
    * Every part must be non-empty: the reference reader errexits on
    * `nvtxs<=0 || nedges<=0` (`graph.h:587-588`), so this writer refuses
    * to emit a file the reference's ranks cannot read — choose `parts`
    * small enough that every `id mod parts` class has vertices and edges.
    * Round-trip proven in GraphLoadersSpec and GraphPropertiesSpec:
    * write → [[metisRecords]] over every part == original graph. */
  def writeMetisSubgraphs(g: PropertyGraph, parts: Int, basePath: String,
                          assignment: Option[DataFrame] = None): Unit = {
    val spark = g.edges.sparkSession
    // The assignment is consumed twice (edge dst ownership + vertex
    // ownership) and its plan is the LPA/LPT pipeline — persist it once.
    // It is O(V) two-long rows, so when it fits the engine's broadcast
    // budget (GraphOps.broadcastFits) the ownership joins broadcast it:
    // one deliberate broadcast per write replacing an O(E) shuffle
    // exchange on the edge side, which the sf10 decomposition named as
    // the write leg's dominant cost term (VERDICT r9 item 2). Beyond the
    // budget they fall back to the shuffle join.
    Materialize.scoped { cache =>
    val assignPersisted = assignment.map(a =>
      cache(a.select(col("id"), col("part").cast("long").as("part"))))
    // 16 payload bytes + ~16 row overhead per (id, part) row; the count
    // also materializes the persisted frame exactly once.
    val assignBroadcasts = assignPersisted.exists(a =>
      GraphOps.broadcastFits(spark, 32L * a.count()))
    // Owner of vertex v: the assignment frame's part when provided (the
    // locality path, SURVEY §2.1 O8), else `id mod parts` (the reference's
    // random/hash convention, O7 — also the fallback for ids the
    // assignment misses, e.g. gap-filled isolated vertices).
    def owned(in: DataFrame, idCol: String, out: String): DataFrame =
      assignPersisted match {
        case Some(a) =>
          val af = a.select(col("id").as(idCol), col("part").as(out))
          in.join(if (assignBroadcasts) broadcast(af) else af,
              Seq(idCol), "left_outer")
            .withColumn(out, coalesce(col(out), pmod(col(idCol), lit(parts.toLong))))
        case None =>
          in.withColumn(out, pmod(col(idCol), lit(parts.toLong)))
      }
    val nbrs = owned(g.edges
        .select(col("src"), col("dst"), coalesce(col("weight"), lit(1.0)).as("w")),
        "dst", "dpart")
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("dst"), col("dpart"), col("w")))).as("ns"))
    // Persist the STRUCT skeleton, not the rendered line strings: the
    // counts pass below also decides the weight-token type (fused
    // fractional-weight detection — the separate O(E) `allIntegral`
    // pre-scan was a full extra pass per write, guide §1.2), and the
    // token type must be known before any string is rendered, so the
    // strings are built exactly once, inside the write job.
    val pre = cache(owned(g.vertices.select(col("id")), "id", "part")
      .join(nbrs, col("id") === col("src"), "left_outer")
      .select(col("id"), col("part"),
        coalesce(col("ns"), array().cast("array<struct<dst:bigint,dpart:bigint,w:double>>"))
          .as("ns")))
    val hconf = spark.sparkContext.hadoopConfiguration
    // One grouped pass for every part's header counts (the per-part
    // agg loop was `parts` extra jobs over the persisted frame) — the
    // same pass detects fractional edge weights (`isfewgts`,
    // graph.h:609-612): every edge record is in exactly one `ns`.
    val countRows = pre.groupBy(col("part"))
      .agg(count(lit(1)).as("nv"), sum(size(col("ns"))).as("ne"),
        max(exists(col("ns"),
          n => n.getField("w") =!= floor(n.getField("w")))).as("frac"))
      .collect()
    val allIntegral = !countRows.exists(r => Option(r.get(3)).contains(true))
    def wTok(c: org.apache.spark.sql.Column) =
      if (allIntegral) c.cast("long").cast("string") else c.cast("string")
    val lines = pre.select(col("id"), col("part"),
      concat_ws(" ",
        col("id").cast("string"), lit("1"), // vid, vwgt (ncon=1)
        concat_ws(" ", flatten(transform(col("ns"),
          n => array(n.getField("dst").cast("string"),
            n.getField("dpart").cast("string"),
            wTok(n.getField("w"))))))).as("line"))
    val counts = countRows
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.toString.toLong).getOrElse(0L))).toMap
    // An out-of-range owner would emit a part=p directory the header
    // loop below never reads — vertices silently vanishing from the
    // roundtrip. Reject it before anything is written.
    val outOfRange = counts.keys.filter(p => p < 0 || p >= parts)
    require(outOfRange.isEmpty,
      s"assignment maps vertices to part(s) ${outOfRange.toSeq.sorted.mkString(",")} " +
        s"outside [0, $parts) — was the assignment computed for a different part count?")
    (0 until parts).foreach { p =>
      val (nv, ne) = counts.getOrElse(p.toLong, (0L, 0L))
      require(nv > 0 && ne > 0,
        s"part $p of $parts is empty (nvtxs=$nv nedges=$ne): the reference " +
          "reader rejects empty subgraphs (graph.h:587-588) — use fewer parts")
    }
    // ONE job writes every part's sorted single file: hash-repartition
    // on the part id puts each part's rows in exactly one task (two
    // parts may share a task — partitionBy still splits them into
    // separate files, each internally ordered), sortWithinPartitions
    // orders by (part, id), and the dynamic-partition text write emits
    // part=p/ dirs. The previous shape — one orderBy job per part run
    // on concurrent driver threads — paid `parts` × (2-stage sort +
    // job schedule + codegen) on tiny data: measured ~9-13 s of mostly
    // scheduler/JIT latency at sf0.1 vs ~3 s for this single pass.
    //
    // The `nvtxs nedges fmt ncon` header is INJECTED as each part's
    // first row (id = Long.MinValue sorts before every vertex) — the
    // counts are already known from the grouped pass above, so the
    // finished file only needs an O(1) rename. The previous shape —
    // create + header + stream-copy the whole part file — was a
    // second full sequential byte pass per part (r9; the sf10 probe
    // measured ~90 s per 3-part write at ~2.6 GB/part, half of it
    // this copy).
    val spark2 = g.edges.sparkSession
    import spark2.implicits._
    val headers = counts.toSeq.map { case (p, (nv, ne)) =>
      (java.lang.Long.MIN_VALUE, p, s"$nv $ne 1111 1")
    }.toDF("id", "part", "line")
    val tmp = new org.apache.hadoop.fs.Path(s"$basePath.subgraphs.tmp")
    val fs = tmp.getFileSystem(hconf)
    lines.select(col("id"), col("part"), col("line")).union(headers)
      .repartition(parts, col("part"))
      .sortWithinPartitions(col("part"), col("id"))
      .select(col("part"), col("line").as("value"))
      .write.partitionBy("part").mode("overwrite").text(tmp.toString)
    (0 until parts).foreach { p =>
      val dir = new org.apache.hadoop.fs.Path(tmp, s"part=$p")
      val partFiles = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      // The rename finish assumes the repartition(col("part")) task
      // committed exactly ONE file per part=p dir. A session-wide
      // spark.sql.files.maxRecordsPerFile (or codec split) could emit
      // several; renaming just the first would silently drop vertex
      // lines, so the single-file invariant fails loudly (ADVICE r9).
      require(partFiles.length == 1,
        s"part=$p committed ${partFiles.length} files (expected exactly 1; " +
          "is spark.sql.files.maxRecordsPerFile set session-wide?)")
      val dst = new org.apache.hadoop.fs.Path(s"$basePath.subgraph.$p")
      if (fs.exists(dst)) fs.delete(dst, false)
      require(fs.rename(partFiles.head, dst), s"rename ${partFiles.head} -> $dst failed")
    }
    fs.delete(tmp, true)
    }
  }

  private val HeavyFactor = 8

  /** Locality-aware part assignment — the engine's analog of the
    * reference's Zoltan/METIS "minimize inter-node traffic" partitioner
    * (`/root/reference/gmr.cpp:107-167`, `partition.h:271-364`;
    * `README.md:49-51`). Input is any community labeling `(id, label)`
    * (LPA labels are the natural feed — g8's materialization); output is
    * `(id, part)` with whole communities kept on one part so
    * community-internal edges are never cut.
    *
    * Balancing is capacity-constrained (Zoltan's balance objective): a
    * community larger than one part's capacity ⌈N/parts⌉ is split into
    * ⌈sz/cap⌉ hash sub-buckets first — otherwise one giant LPA community
    * (the common fixpoint on dense graphs) starves every other part.
    * The TOP `parts × HeavyFactor` placement units by member count (a
    * bounded collect — parts is a user constant) are then placed
    * greedily largest-first onto the least-loaded part (the LPT
    * bin-packing heuristic; greedy fills every part once before
    * doubling up, so no part is left empty while ≥ parts units exist);
    * the long tail of small communities hashes by (label, bucket) into
    * a part chosen through a residual-capacity-weighted slot table (see
    * below), spreading without materializing the label dimension on
    * the driver. Each vertex picks up its unit's part through one
    * broadcast join with the hash fallback — the only shuffles are the
    * label-size aggregate and the size join.
    *
    * Tail balance (ADVICE r8): a uniform `pmod(hash, parts)` tail would
    * hand every part a full 1/parts tail share even when the LPT heavy
    * placement already loaded it near capacity, so total imbalance
    * could exceed the cap the capacity-splitting aims for. The tail is
    * therefore hashed into a fixed 1024-slot literal table where part i
    * owns slots proportional to its RESIDUAL capacity max(0, cap −
    * load_i) after the heavy placement — an O(1) `element_at` per row,
    * no extra shuffle, and a (label, bucket) unit still maps to ONE
    * slot so whole tail communities stay unsplit. The residual
    * quantization bounds the added tail skew at 1/1024 of the tail
    * mass per part. */
  def localityAssignment(labels: DataFrame, parts: Int): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val total = labels.count()
    val cap = math.max(1L, (total + parts - 1) / parts.toLong)
    val sized = labels
      .join(labels.groupBy(col("label")).agg(count(lit(1)).as("sz")), "label")
      .select(col("id"), col("label"),
        pmod(xxhash64(col("id")),
          greatest(expr(s"(sz + ${cap - 1}) DIV $cap"), lit(1L))).as("bucket"))
    val units = sized.groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("sz"))
    val heavy = units.orderBy(col("sz").desc, col("label"), col("bucket"))
      .limit(parts * HeavyFactor).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val loads = Array.fill(parts)(0L)
    val heavyAssign = heavy.map { case (lbl, b, sz) =>
      val p = loads.indices.minBy(i => (loads(i), i))
      loads(p) += sz
      (lbl, b, p.toLong)
    }
    val heavyDf = heavyAssign.toSeq.toDF("label", "bucket", "hpart")
    // Residual-capacity slot table for the tail: slot s belongs to the
    // part whose cumulative-residual interval contains s·R/1024. Parts
    // at or over capacity get no slots; if nothing is under capacity
    // (heavy units filled every part exactly) fall back to round-robin.
    val NSlots = 1024
    val resid = loads.map(l => math.max(0L, cap - l))
    val totalResid = resid.sum
    val slots: Array[Long] =
      if (totalResid <= 0L) Array.tabulate(NSlots)(i => (i % parts).toLong)
      else {
        val cum = resid.scanLeft(0L)(_ + _)
        Array.tabulate(NSlots) { s =>
          val x = s.toLong * totalResid / NSlots
          math.min(cum.lastIndexWhere(_ <= x), parts - 1).toLong
        }
      }
    // One ArrayType Literal, not CreateArray of 1024 literal exprs —
    // the expression tree stays a single node in codegen.
    val slotArr = lit(slots)
    sized.join(broadcast(heavyDf), Seq("label", "bucket"), "left_outer")
      .select(col("id"),
        coalesce(col("hpart"),
          element_at(slotArr,
            (pmod(xxhash64(col("label"), col("bucket")), lit(NSlots.toLong)) + 1)
              .cast("int"))).as("part"))
  }

  /** [[partitionStats]] over an already-parsed [[metisRecords]] frame —
    * callers that also read the graph back (g19) parse the files once,
    * persist, and share the frame between the stats aggregate and the
    * edge view. ONE aggregate produces all three counts; the per-row cut
    * count is a single-level higher-order `filter` over the neighbor
    * array (no nested-lambda interpretation trap, no exploded
    * intermediate ahead of the exchange — guide §2.3). */
  def partitionStatsFromRecords(records: DataFrame): DataFrame =
    records.groupBy(col("part")).agg(
        count(lit(1)).as("nvtxs"),
        coalesce(sum(size(col("ns"))), lit(0L)).cast("long").as("nedges"),
        coalesce(sum(size(filter(col("ns"),
          n => n.getField("dst_part").cast("long") =!= col("part")))), lit(0L))
          .cast("long").as("cut_edges"))
      .withColumn("cut_pct",
        round(col("cut_edges") * 100.0 / greatest(col("nedges"), lit(1L)), 2))

  /** Partition-quality metrics over `basePath.subgraph.0 .. parts-1`,
    * from this engine's writer or the reference's partitioner — the
    * reference's `showGraphPartitions` analog
    * (`partition.h:469-542`). One row per part: vertex
    * count, edge-record count, cut edge records (the recorded neighbor
    * owner `dst_part` differs from the source's part), and the cut
    * fraction — one aggregate over the [[metisRecords]] scan. */
  def partitionStats(spark: SparkSession, basePath: String, parts: Int): DataFrame =
    partitionStatsFromRecords(metisRecords(spark, subgraphFiles(basePath, parts)))

  /** The reference's imbalance measure over a [[partitionStats]] frame:
    * `max_p(nparts * count_p / sum)` — 1.0 is perfect balance, larger is
    * worse (`partition.h:530-534`) — for vertices and edge records, plus
    * the total cut-record count (`partition.h:536-537`). */
  def partitionImbalance(stats: DataFrame): (Double, Double, Long) = {
    val r = stats.agg(max(col("nvtxs")), sum(col("nvtxs")),
      max(col("nedges")), sum(col("nedges")),
      sum(col("cut_edges")), count(lit(1))).first()
    val parts = r.getLong(5).toDouble
    (parts * r.getLong(0) / r.getLong(1).toDouble,
      parts * r.getLong(2) / r.getLong(3).toDouble,
      r.getLong(4))
  }
}

/** The reference's global sample sort (`/root/reference/samplesort.cpp`,
  * SURVEY.md §2.1 O22) is exactly Spark's `orderBy`: sample → range
  * bounds → shuffle → per-partition sort (RangePartitioner). This wrapper
  * exists to make that equivalence explicit and testable. */
object SampleSort {
  def sort(df: DataFrame, column: String): DataFrame = df.orderBy(col(column))
}
