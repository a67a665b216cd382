package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.QueryDef.{sql => q}
import graft.vt.VersionedTable

/** IVF (inverted-file) approximate nearest neighbor: partition the corpus by
  * nearest centroid, search only the `nprobe` closest cells per query — the
  * other classic ANN scale path next to sign-LSH (Similarity.annTopK).
  *
  * Centroids come from a k-means-lite Lloyd loop run AS DataFrame jobs:
  * assignment is a codegen'd expression over literal centroid arrays (no
  * UDFs), the update step is an explode + groupBy elementwise mean, and each
  * iteration collects only k×dim doubles to the driver (the SURVEY §3.3
  * adaptive-plan pattern: tiny action results parameterize the next plan).
  * At 100 TB: train on a sample, assignment/search stay fully distributed,
  * shuffles are keyed on cell id, and per-query work is nprobe cells.
  */
object Ivf {

  private def sqDist(v: Column, centroid: Array[Double]): Column =
    aggregate(zip_with(v, array(centroid.map(lit(_)).toIndexedSeq: _*),
      (x, c) => (x.cast(DoubleType) - c) * (x.cast(DoubleType) - c)),
      lit(0.0), (acc, d) => acc + d)

  /** Index of the nearest centroid via array_min over (dist, idx) structs. */
  def nearestCell(v: Column, centroids: Seq[Array[Double]]): Column =
    array_min(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(sqDist(v, c).as("d"), lit(i).as("i"))
    }: _*)).getField("i")

  /** Deterministic k-means-lite: seed cells = the k vectors with smallest
    * xxhash64(vec_id); `iters` Lloyd rounds of assign + elementwise mean. */
  def trainCentroids(emb: DataFrame, k: Int = 16, iters: Int = 3,
                     dim: Int = 64): Seq[Array[Double]] = {
    val spark = emb.sparkSession
    def collectCentroids(df: DataFrame): Seq[Array[Double]] =
      df.collect().map(r => r.getSeq[Double](0).toArray).toSeq
    var centroids = collectCentroids(
      emb.withColumn("h", xxhash64(col("vec_id")))
        .orderBy("h").limit(k)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
    for (_ <- 0 until iters) {
      val assigned = emb.withColumn("cell", nearestCell(col("embedding"), centroids))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(avg(col("v").cast(DoubleType)).as("m"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), expr("transform(pm, x -> x.m)").as("centroid"))
        .orderBy("cell")
      val updated = means.collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** IVF top-k: corpus assigned once to cells; each query probes its `nprobe`
    * nearest cells; exact cosine inside the probed cells only. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
              centroids: Seq[Array[Double]], nprobe: Int = 2): DataFrame =
    searchAssigned(emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("cell", nearestCell(col("ce"), centroids)),
      queries, k, centroids, nprobe)

  /** IVF top-k over a PRE-ASSIGNED corpus — what searching the persisted
    * index table runs: `index` carries `(vec_id, cell, embedding)`, so the
    * search plan does zero assignment work and never touches the corpus
    * embedding table (ExtSpec pins the equivalence with [[ivfTopK]]). */
  def ivfTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
                     centroids: Seq[Array[Double]], nprobe: Int = 2): DataFrame =
    searchAssigned(index.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("cell").cast(IntegerType).as("cell")), queries, k, centroids, nprobe)

  private def searchAssigned(corpus: DataFrame, queries: DataFrame, k: Int,
                             centroids: Seq[Array[Double]], nprobe: Int): DataFrame = {
    val cellsOf = (v: Column) => slice(expr(
      // rank all cells by distance, keep the nprobe nearest
      centroids.zipWithIndex.map { case (_, i) => s"named_struct('d', __d$i, 'i', $i)" }
        .mkString("array_sort(array(", ", ", "))")), 1, nprobe)
    val qs = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val qsWithD = centroids.zipWithIndex.foldLeft(qs) { case (df, (c, i)) =>
      df.withColumn(s"__d$i", sqDist(col("qe"), c))
    }
    val probed = broadcast(qsWithD
      .withColumn("probe", explode(cellsOf(col("qe"))))
      .select(col("qid"), col("qe"), col("probe.i").as("cell")))
    val scored = probed.join(corpus, Seq("cell")).where(col("qid") =!= col("cid"))
      .withColumn("score", Similarity.cosine(col("qe"), col("ce")))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("cid").asc)
    scored.withColumn("rnk", row_number().over(w).cast(IntegerType)).where(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** Pinned centroids for the end-to-end SEARCH oracle (8 cells, nprobe=2 →
    * a quarter of the corpus probed per query). The Lloyd loop's centroids
    * are data-dependent and use order-sensitive float means, so they cannot
    * be replayed bit-identically in static SQL; the search pipeline —
    * assignment, probe ranking, in-cell cosine top-k — is the part that runs
    * at corpus scale, and with literal centroids every stage of it has an
    * exact DuckDB twin. Training itself is asserted by the planted-cluster
    * recall spec (ExtSpec). */
  private[graft] val searchCentroids: Seq[Array[Double]] =
    (0 until 8).map(j => Array.tabulate(64)(i => ((j * 37 + i * 11) % 19 - 9) / 40.0))

  /** End-to-end IVF search, oracle-checked: corpus assigned to its nearest
    * pinned cell, each query probes its 2 nearest cells, exact cosine top-10
    * inside the probed cells. Distance folds and probe tie-breaks (sort by
    * (d, i)) are bit-identical across engines. */
  val qAnnIvf: QueryDef = q("q_ann_ivf")(
    s"""WITH d AS (SELECT vec_id, embedding,
       |                  [${searchCentroids.map(assignDistSql).mkString(",\n                   ")}] AS ds
       |           FROM embeddings),
       |     corpus AS (SELECT vec_id AS cid, embedding AS ce,
       |                       CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER) AS cell
       |                FROM d),
       |     probes AS (SELECT vec_id AS qid, embedding AS qe,
       |                       unnest(list_transform(list_slice(list_sort(
       |                         list_transform(range(1, 9), i -> {'d': ds[i], 'i': CAST(i - 1 AS INTEGER)})),
       |                         1, 2), s -> s.i)) AS cell
       |                FROM d WHERE vec_id < 8),
       |     scored AS (SELECT qid, cid, ${Similarity.duckCosine("qe", "ce")} AS score
       |                FROM probes JOIN corpus ON probes.cell = corpus.cell AND cid <> qid),
       |     ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |                                ORDER BY score DESC, cid) AS INTEGER) AS rnk FROM scored)
       |SELECT qid, cid, rnk, score FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    ivfTopK(emb, emb.where(col("vec_id") < 8), k = 10, searchCentroids, nprobe = 2)
      .orderBy("qid", "rnk")
  }

  // ---- persisted IVF index (companion versioned table) --------------------

  /** Maintain a companion IVF INDEX table for a versioned embedding corpus
    * (r12 verdict #5 — the [[IncrementalDedup.maintainSignatureTable]]
    * pattern applied to ANN): version N of `ixVt` holds
    * `(vec_id, cell, embedding)` for every vector of version N of `vt`,
    * assigned to `centroids`. An append interval assigns ONLY the CDC delta
    * — O(increment) distance folds through the append-only fast path, no
    * corpus re-scan — and appends; a non-append interval (overwrite/upsert/
    * revert) rebuilds from the snapshot, the standard IVM recompute
    * fallback. The centroid matrix is persisted ONCE as a JSON object under
    * the index root, so a search session reads it back instead of
    * re-training ([[readIndexCentroids]]); at search time the corpus table
    * is never opened at all. */
  def maintainIvfIndex(vt: VersionedTable, ixVt: VersionedTable,
                       centroids: Seq[Array[Double]], branch: String = "main"): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val corpusHead = vt.head(branch).map(_.version).getOrElse(return)
    val from = ixVt.head(branch).map(_.version + 1).getOrElse(0L)
    if (from == 0L)
      ixVt.putObject("centroids.json",
        centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
    else {
      // Changing centroids would mix assignment regimes: versions < from are
      // assigned under the persisted matrix, and readIndexCentroids would
      // keep returning it — silent recall corruption. Refuse loudly; a
      // centroid change means a NEW index table.
      val persisted = readIndexCentroids(ixVt)
      require(persisted.size == centroids.size &&
        persisted.zip(centroids).forall { case (a, b) => a.sameElements(b) },
        "centroids differ from the persisted index matrix; create a fresh " +
          "index table to re-assign under new centroids")
    }
    if (from > corpusHead) return // index already caught up
    // only the catch-up interval's commits — O(increment) metadata, not
    // O(history) (the corpus may be a long-lived streaming ingest)
    val byVersion = vt.commitRange(branch, math.max(from - 1, 0L), corpusHead)
      .map(c => c.version -> c).toMap
    (from to corpusHead).foreach { v =>
      val appendOnly = v > 0 && VersionedTable.appendOnly(byVersion(v - 1), byVersion(v))
      val (delta, mode) =
        if (v == 0) (vt.readVersion(spark, branch, 0), "overwrite")
        else if (appendOnly)
          (vt.changes(spark, branch, v - 1, v).drop("change_type"), "append")
        else (vt.readVersion(spark, branch, v), "overwrite")
      ixVt.write(delta.select(col("vec_id"),
        nearestCell(col("embedding"), centroids).as("cell"), col("embedding")),
        branch, s"ivf index for corpus v$v", mode = mode)
    }
  }

  /** The centroid matrix persisted by [[maintainIvfIndex]] (k×dim doubles,
    * JSON array-of-arrays — readable without Spark). */
  def readIndexCentroids(ixVt: VersionedTable): Seq[Array[Double]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    mapper.readValue(ixVt.getObject("centroids.json"),
      classOf[java.util.List[java.util.List[Number]]])
      .asScala.map(_.asScala.map(_.doubleValue()).toArray).toSeq
  }

  /** End-to-end search over the PERSISTED index, oracle-checked against the
    * same SQL as `q_ann_ivf` (the index is exactly the assignments, so the
    * search result must be identical): corpus written as versioned v0 +
    * append increment, the index maintained per commit — the increment pass
    * assigning only the delta files — then top-10 searched from the index
    * head with centroids READ BACK from the persisted object, never
    * re-trained. */
  val qAnnIvfPersisted: QueryDef = q("q_ann_ivf_persisted")(
    s"""WITH d AS (SELECT vec_id, embedding,
       |                  [${searchCentroids.map(assignDistSql).mkString(",\n                   ")}] AS ds
       |           FROM embeddings),
       |     corpus AS (SELECT vec_id AS cid, embedding AS ce,
       |                       CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER) AS cell
       |                FROM d),
       |     probes AS (SELECT vec_id AS qid, embedding AS qe,
       |                       unnest(list_transform(list_slice(list_sort(
       |                         list_transform(range(1, 9), i -> {'d': ds[i], 'i': CAST(i - 1 AS INTEGER)})),
       |                         1, 2), s -> s.i)) AS cell
       |                FROM d WHERE vec_id < 8),
       |     scored AS (SELECT qid, cid, ${Similarity.duckCosine("qe", "ce")} AS score
       |                FROM probes JOIN corpus ON probes.cell = corpus.cell AND cid <> qid),
       |     ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |                                ORDER BY score DESC, cid) AS INTEGER) AS rnk FROM scored)
       |SELECT qid, cid, rnk, score FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val vt = VersionedTable.create(Tables.scratch("ivf_corpus"))
    val ixVt = VersionedTable.create(Tables.scratch("ivf_index"))
    vt.write(emb.where(col("vec_id") % 5 =!= 0), "main", "v0: corpus snapshot")
    maintainIvfIndex(vt, ixVt, searchCentroids)
    vt.write(emb.where(col("vec_id") % 5 === 0), "main", "v1: arrival increment",
      mode = "append")
    maintainIvfIndex(vt, ixVt, searchCentroids) // assigns ONLY the delta
    ivfTopKIndexed(ixVt.read(s, "main"), emb.where(col("vec_id") < 8), k = 10,
      readIndexCentroids(ixVt), nprobe = 2)
      .orderBy("qid", "rnk")
  }

  // ---- oracle-checked assignment step -------------------------------------

  /** Fixed literal centroids for the ASSIGNMENT oracle: the Lloyd loop's
    * centroids are data-dependent (unreplayable in static SQL), but the
    * assignment operator itself — argmin over squared distances — is the
    * part that runs at corpus scale, and with pinned centroids it has an
    * exact DuckDB twin. Values are deterministic decimals in the data's
    * range; `Double.toString` round-trips, so both engines parse the SAME
    * doubles and the left-fold distance sums are bit-identical. */
  private[ext] val assignCentroids: Seq[Array[Double]] =
    (0 until 4).map(j => Array.tabulate(64)(i => ((j * 31 + i * 7) % 21 - 10) / 50.0))

  private[ext] def assignDistSql(c: Array[Double]): String = {
    val lst = c.map(_.toString).mkString("[", ", ", "]")
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), " +
      s"i -> (CAST(embedding[i] AS DOUBLE) - ($lst)[i]) * (CAST(embedding[i] AS DOUBLE) - ($lst)[i]))), " +
      "(acc, x) -> acc + x)"
  }

  /** IVF cell assignment with literal centroids. Tie-break parity: Spark's
    * array_min over (dist, idx) structs picks the smallest idx among equal
    * distances; DuckDB's list_position finds the FIRST index of the min —
    * the same index, since distances are bit-identical doubles. */
  val qIvfAssign: QueryDef = q("q_ivf_assign")(
    s"""WITH d AS (SELECT vec_id,
       |                  [${assignCentroids.map(assignDistSql).mkString(",\n                   ")}] AS ds
       |           FROM embeddings)
       |SELECT vec_id, CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER) AS cell
       |FROM d ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), nearestCell(col("embedding"), assignCentroids).as("cell"))
      .orderBy("vec_id")
  }

  // ---- oracle-checked TRAINED path ----------------------------------------

  /** One Lloyd round whose OUTPUT is machine-checked end-to-end — the piece
    * the pinned-centroid oracles above cannot cover. The production loop
    * ([[trainCentroids]]) uses distributed float `avg`, whose summation order
    * is partition-dependent: its exact output is NOT replayable in static
    * SQL (the float-fold nondeterminism note from the r9 review). This
    * variant removes the nondeterminism instead of tolerating it:
    *
    *  - seeding by the repo's SQL-replayable seeded polynomial hash
    *    (`Dedup.affineA/B` mod P) over vec_id, smallest k win;
    *  - assignment via the same codegen'd argmin as production (literal seed
    *    centroids, collected k×dim doubles — the bounded-action contract);
    *  - the mean update in EXACT integer arithmetic: each element is scaled
    *    to a micro-unit long with floor(x·10⁶+0.5) (the qPercentile cents
    *    trick), summed as int64 (order-independent!), divided once as
    *    double/double — bit-identical in both engines.
    *
    * Scale shape: one bounded collect (k×dim), row-local assignment, one
    * keyed shuffle on (cell, pos). Output is the trained centroid matrix. */
  def trainedCentroidMatrix(emb: DataFrame, k: Int): DataFrame = {
    import graft.ext.Dedup.{P, affineA, affineB}
    val hv = (lit(affineA(0)) * (col("vec_id") % P) + affineB(0)) % P
    val seeds = emb.select(col("vec_id"), col("embedding"), hv.as("hv"))
      .orderBy("hv", "vec_id").limit(k) // global top-k: TakeOrderedAndProject
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    // cell first, posexplode second: a generator in the same select rewrites
    // sibling expressions and drops the struct field aliases nearestCell needs
    emb.withColumn("cell", nearestCell(col("embedding"), seeds).cast(LongType))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("sv", floor(col("v").cast(DoubleType) * 1000000 + lit(0.5)).cast(LongType))
      .groupBy("cell", "pos")
      .agg(sum("sv").as("ssv"), count(lit(1)).as("n"))
      .select(col("cell"), col("pos").cast(LongType).as("pos"),
        (col("ssv").cast(DoubleType) / (lit(1000000.0) * col("n"))).as("m"),
        col("n"))
      .orderBy("cell", "pos")
  }

  val qAnnIvfTrained: QueryDef = q("q_ann_ivf_trained")(
    s"""WITH h AS (SELECT vec_id, embedding,
       |                  ((${graft.ext.Dedup.affineA(0)} * (vec_id % ${graft.ext.Dedup.P}) +
       |                    ${graft.ext.Dedup.affineB(0)}) % ${graft.ext.Dedup.P}) AS hv
       |           FROM embeddings),
       |     seeds AS (SELECT CAST(row_number() OVER (ORDER BY hv, vec_id) - 1 AS BIGINT) AS cell,
       |                      embedding AS ce
       |               FROM h ORDER BY hv, vec_id LIMIT 4),
       |     d AS (SELECT e.vec_id, e.embedding, s.cell,
       |                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |                    list_transform(range(1, 65),
       |                      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.ce[i] AS DOUBLE))
       |                         * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.ce[i] AS DOUBLE)))),
       |                    (acc, x) -> acc + x) AS d
       |           FROM embeddings e CROSS JOIN seeds s),
       |     a AS (SELECT vec_id, embedding, cell,
       |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |           FROM d),
       |     x AS (SELECT cell, CAST(t.i - 1 AS BIGINT) AS pos,
       |                  CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS sv
       |           FROM a CROSS JOIN range(1, 65) AS t(i)
       |           WHERE rn = 1)
       |SELECT cell, pos, CAST(sum(sv) AS DOUBLE) / (1000000.0 * count(*)) AS m,
       |       count(*) AS n
       |FROM x GROUP BY cell, pos ORDER BY cell, pos""".stripMargin) { (s, d) =>
    trainedCentroidMatrix(Tables.embeddings(s, d), k = 4)
  }

  val defs: Seq[QueryDef] = Seq(qAnnIvf, qAnnIvfPersisted, qIvfAssign, qAnnIvfTrained)
}
