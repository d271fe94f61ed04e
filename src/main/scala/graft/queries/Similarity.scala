package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Similarity search over the `embeddings` table (64-dim unit vectors):
  * brute-force cosine top-k as the exact baseline, plus two bucketed
  * variants that are the 100 TB scale path — random-hyperplane LSH and an
  * IVF-style probe over a coarse cell assignment.
  *
  * Determinism across engines: floating-point dot products are
  * order-sensitive under Spark's partial aggregation, so vectors are
  * quantized to fixed-point (round(v·1e7) as BIGINT — exact in both
  * engines since float→double is exact and both round half away from
  * zero). All sums are then exact integer arithmetic (≤6.4e15 < 2^53, no
  * overflow, order-insensitive); the final cosine is one deterministic
  * IEEE expression over exactly-representable integers.
  *
  * Scale stance: brute force (q36) is O(queries × corpus) and exists as
  * the small-query-set baseline and the recall oracle for the bucketed
  * variants. q37/q38 join on a bucket key instead — candidate generation
  * is an equi-join, never a cross join — so the per-query cost is the
  * bucket size, and the bucket key shuffle is uniform (md5-derived planes
  * / given cells).
  */
object Similarity extends QueryModule {

  private val Scale = 1e7
  private[graft] val NumQueries = 8 // query set: vec_id < 8

  /** Quantized coordinates: (vec_id, label, pos, q). */
  private[graft] def quant(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("vec_id"), col("label"), (col("pos0") + 1).as("pos"),
        round(col("v").cast("double") * Scale).cast("long").as("q"))
  }

  private[graft] val quantSqlCte =
    """quant AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
      |         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000000.0) AS BIGINT) AS q
      |  FROM embeddings),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM quant GROUP BY vec_id)""".stripMargin

  /** cosine between query q and doc d given integer dot and norms. */
  private[graft] def cosine(dot: org.apache.spark.sql.Column,
                     n2a: org.apache.spark.sql.Column,
                     n2b: org.apache.spark.sql.Column) =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  // ---------------------------------------------------------------------
  // q36 — brute-force cosine top-k: every query vector against the whole
  // corpus. The plan is a BROADCAST of the tiny query set (8 vectors as
  // array columns) against one narrow pass over the corpus — per corpus
  // row, 8 codegen'd integer dot products (graft_dot) — then a per-query
  // top-k window. Zero shuffle of corpus bytes for candidate generation
  // (the only shuffles are the per-vector array roll-up and the 8-key
  // window); the earlier position-explode equi-join shuffled the corpus
  // ×64 on a 64-value key. Same exact integer arithmetic, same oracle.
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val vecs = corpusVecs(s, dir).select("vec_id", "qa", "n2")
    val queries = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    vecs.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)")) // native codegen'd dot (plans.DotProduct)
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  private val q36Sql =
    s"""WITH $quantSqlCte,
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.qid, d.vec_id,
      |         CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) AS cos
      |  FROM dots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |ranked AS (
      |  SELECT qid, vec_id, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, rank
      |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Vector-arm serving relation for the hybrid retrieval fusion
    * (Corpus q129): q36's exact brute-force contract — broadcast query
    * set + codegen'd `graft_dot`, zero corpus shuffle, self excluded —
    * reduced to ranks: (qid INT, vec_id, vrank ≤ k) for the given
    * query ids. Kept here so the fusion cannot drift from the contract
    * q36/q86 are verified under. */
  private[graft] def bruteRanks(s: SparkSession, dir: String,
                                qids: Seq[Int], k: Int): DataFrame = {
    val vecs = corpusVecs(s, dir).select("vec_id", "qa", "n2")
    val queries = vecs.filter(col("vec_id").isin(qids.map(_.toLong): _*))
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    vecs.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("vrank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("vrank") <= k)
      .select(col("qid").cast("int").as("qid"), col("vec_id"), col("vrank"))
  }

  /** SQL twin of [[bruteRanks]] — CTEs `quant`/`norms`/`vdots`/
    * `vscored`/`vranks`, names chosen not to collide with the BM25
    * stack it composes with in q129's oracle. */
  private[graft] def bruteRanksSqlCtes(qids: Seq[Int], k: Int): String =
    s"""$quantSqlCte,
      |vdots AS (
      |  SELECT CAST(a.vec_id AS INTEGER) AS qid, b.vec_id AS vec_id,
      |         CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos
      |   AND a.vec_id IN (${qids.mkString(", ")}) AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |vscored AS (
      |  SELECT d.qid, d.vec_id,
      |         CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) AS cos
      |  FROM vdots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |vranks AS (
      |  SELECT qid, vec_id, vrank FROM (
      |    SELECT qid, vec_id,
      |           CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS vrank
      |    FROM vscored) WHERE vrank <= $k)""".stripMargin

  // ---------------------------------------------------------------------
  // q37 — random-hyperplane LSH buckets: 8 md5-derived ±1 planes give an
  // 8-bit bucket signature; neighbors are searched within the bucket
  // only. Planes are derived per (plane, pos) from md5 so both engines
  // (and every executor) see the same hyperplanes with no side channel.
  private val NumPlanes = 8

  /** The md5-derived ±1 hyperplanes are CONSTANTS (md5 of "plane-pos"),
    * so they are computed here in plain Scala — no Spark job, no side
    * channel — and inlined as foldable array literals. A vector's whole
    * bucket signature is then a per-row expression (one codegen'd
    * graft_dot per plane against a literal array): bucketing costs ZERO
    * joins and ZERO shuffles beyond the per-vector roll-up, for any
    * corpus size. The DuckDB oracle recomputes the same md5 table
    * relationally and agrees bit-for-bit. */
  private def planeSigns(planes: Int): IndexedSeq[IndexedSeq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (1 to 64).map { pos =>
        val hex = md.digest(s"$p-$pos".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0) <= '7') 1L else -1L // first hex digit in 0-7 → +1
      }
    }
  }

  /** One projection column per plane: graft_dot(qa, <literal ±1 array>). */
  private def projCol(sa: IndexedSeq[Long]): org.apache.spark.sql.Column =
    expr(s"graft_dot(qa, array(${sa.mkString("L,")}L))")

  /** Bucket-signature string over `planes` hyperplanes as one per-row
    * expression (bit b = sign of projection b). */
  private def bucketCol(planes: Int): org.apache.spark.sql.Column =
    concat(planeSigns(planes).map(sa =>
      when(projCol(sa) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** Per-vector rolled-up relation: (vec_id, label, qa = pos-ordered
    * quantized array, n2 = squared norm). The ONE corpus-wide roll-up
    * every similarity query starts from. */
  private[graft] def vecsOf(qdf: DataFrame): DataFrame = {
    qdf.groupBy("vec_id", "label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, q))), x -> x.q) AS qa"),
           sum(col("q") * col("q")).as("n2"))
  }

  /** [[vecsOf]]`(`[[quant]]`)` computed per ROW from the stored embedding
    * array — `transform` quantizes in place and `aggregate` folds the
    * norm, so the roll-up is one narrow codegen'd projection over the
    * parquet scan with NO posexplode, NO ObjectHashAggregate pair and NO
    * corpus-wide Exchange (the explode + collect_list regroup shuffled
    * every vector's 64 coordinate rows just to reassemble the array the
    * scan already had). Bit-identical to the old form: same
    * float→double cast, same HALF_UP round at 1e7, same long overflow
    * arithmetic, and transform preserves the pos order array_sort
    * re-established; the size/notnull filter mirrors the predicate
    * posexplode implied (a null/empty embedding produced no rows). */
  private[graft] def corpusVecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1.0E7, 0) AS BIGINT))")
          .as("qa"))
      .withColumn("n2", expr("aggregate(qa, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))

  private val bucketsSqlCte =
    s"""projs AS (
      |  SELECT vec_id, plane, CAST(SUM(CASE WHEN substring(md5(plane::VARCHAR || '-' || pos::VARCHAR), 1, 1)
      |                          IN ('0','1','2','3','4','5','6','7') THEN q ELSE -q END) AS BIGINT) AS proj
      |  FROM quant CROSS JOIN (SELECT unnest(range($NumPlanes)) AS plane)
      |  GROUP BY vec_id, plane),
      |buckets AS (
      |  SELECT vec_id, string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
      |  FROM projs GROUP BY vec_id)""".stripMargin

  private def q37(s: SparkSession, dir: String): DataFrame = {
    // tracked cache: both sides of the in-bucket join read it
    val vecs = graft.Caches.track(corpusVecs(s, dir))
    // bucket = one per-row expression over literal planes — no join
    val withB = vecs.withColumn("bucket", bucketCol(NumPlanes))
    val queries = withB.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("bucket"), col("qa").as("qq"), col("n2").as("n2q"))
    queries.join(
        withB.select(col("vec_id"), col("bucket"), col("qa"), col("n2").as("n2d")), "bucket")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2d")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  private val q37Sql =
    s"""WITH $quantSqlCte,
      |$bucketsSqlCte,
      |withb AS (SELECT q.*, b.bucket FROM quant q JOIN buckets b ON q.vec_id = b.vec_id),
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM withb a JOIN withb b ON a.bucket = b.bucket AND a.pos = b.pos
      |    AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.qid, d.vec_id,
      |         CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) AS cos
      |  FROM dots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |ranked AS (
      |  SELECT qid, vec_id, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, rank
      |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q38 — within-class top-k: nearest neighbors restricted to the query's
  // own `label` class (e.g. nearest same-class training example for
  // per-class dedup or leakage checks). Structurally this is an IVF probe
  // with nprobe = 1 — an equi-join on the cell id — and with k-means-built
  // cells the same plan is the classic IVF scale path; here the cell is
  // the given class annotation, so results answer "nearest within class",
  // not "approximate global nearest" (the labels are not geometric
  // clusters in this corpus — LSH (q37) is the approximate-ANN path).
  private def q38(s: SparkSession, dir: String): DataFrame = {
    // tracked cache: both sides of the within-class join read it
    val vecs = graft.Caches.track(corpusVecs(s, dir))
    val queries = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("label"), col("qa").as("qq"), col("n2").as("n2q"))
    queries.join(
        vecs.select(col("vec_id"), col("label"), col("qa"), col("n2").as("n2d")), "label")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2d")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  private val q38Sql =
    s"""WITH $quantSqlCte,
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.label = b.label AND a.pos = b.pos
      |    AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.qid, d.vec_id,
      |         CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) AS cos
      |  FROM dots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |ranked AS (
      |  SELECT qid, vec_id, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, rank
      |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q39 — embedding-cosine near-duplicate PAIRS (the fifth dedup method
  // of the pipeline brief, over vectors instead of text): multi-table
  // random-hyperplane LSH — L=6 tables of k=5 planes each — generates
  // candidates (a pair is a candidate if it shares ANY table's 5-bit
  // key), then exact integer-quantized cosine ≥ 0.35 verifies. On this
  // corpus 0.35 is ~4.5σ above random for 64-dim unit vectors. Multi-
  // table OR-construction trades candidate volume for recall the way a
  // single k-bit table cannot (P[share k bits] decays exponentially in
  // k, so one table is either all-pairs or no recall); candidates are
  // verified with an exact zip_with/aggregate integer dot product per
  // candidate row — never an all-pairs pass over the corpus.
  private val NearDupTables = 6
  private val PlanesPerTable = 5
  private val CosThreshold = 0.35

  /** q39's verified pair set (v1, v2, cosine) — reused by the semantic
    * dedup canonicalization (q50). */
  def cosineNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    // tracked cache: the per-vector roll-up feeds the 30-plane bucketing
    // AND both verification join sides — one corpus pass, reused
    val vecs = graft.Caches.track(corpusVecs(s, dir))
    // All 6 tables' 5-bit keys come from per-row expressions over the
    // literal planes (30 codegen'd dots), then a 6-row-per-vector
    // explode — zero joins/shuffles for candidate-key generation.
    val signs = planeSigns(NearDupTables * PlanesPerTable)
    val keys = vecs.select(col("vec_id"), explode(array((0 until NearDupTables).map { t =>
        struct(lit(t).as("tbl"),
          concat((t * PlanesPerTable until (t + 1) * PlanesPerTable).map(p =>
            when(projCol(signs(p)) >= 0, lit("1")).otherwise(lit("0"))): _*).as("bk"))
      }: _*)).as("x"))
      .select(col("vec_id"), col("x.tbl").as("tbl"), col("x.bk").as("bk"))
    // Mega-buckets (> 64 members) are keys that failed to discriminate —
    // near-boundary projections — and would contribute O(c²) candidate
    // pairs with random-pair cosine statistics; standard LSH practice is
    // to skip them (vectors keep their other L−1 tables' votes). The cap
    // is part of the operator's definition (the oracle applies it too).
    // graft_collect_capped (plans.CappedCollect, see
    // Dedup.minhashCandidatesOf): bounded-buffer collection — a saturated
    // table key (90% of the corpus on one plane signature, the skew
    // probe's corpus) costs O(cap) per task everywhere, never one
    // corpus-sized array in one reducer; over-cap buckets surface as 65
    // elements and the size filter drops them
    val cand = keys
      .groupBy("tbl", "bk")
      .agg(expr("array_sort(graft_collect_capped(vec_id, 64)) AS ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= 64)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1), i ->
          |  transform(slice(ids, i + 1, size(ids) - i), y ->
          |    struct(element_at(ids, i) AS v1, y AS v2))))""".stripMargin)).as("p"))
      .select(col("p.v1").as("v1"), col("p.v2").as("v2"))
      .distinct()
    cand
      .join(vecs.select(col("vec_id").as("v1"), col("qa").as("qa1"), col("n2").as("n21")), "v1")
      .join(vecs.select(col("vec_id").as("v2"), col("qa").as("qa2"), col("n2").as("n22")), "v2")
      // graft_dot: native codegen'd Expression (plans.DotProduct) — the
      // zip_with/aggregate HOF pair would run two interpreted lambdas
      // per element per candidate row, outside whole-stage codegen
      .withColumn("dot", expr("graft_dot(qa1, qa2)"))
      .withColumn("cosine", round(cosine(col("dot"), col("n21"), col("n22")), 6))
      .filter(col("cosine") >= CosThreshold)
      .select("v1", "v2", "cosine")
  }

  private def q39(s: SparkSession, dir: String): DataFrame =
    cosineNearDupPairs(s, dir).orderBy("v1", "v2")

  /** Shared oracle CTE chain mirroring [[cosineNearDupPairs]]; yields the
    * CTE `verified_pairs` (v1, v2, cosine). Used by q39 and q50. */
  private[graft] val cosinePairsSqlCtes =
    s"""$quantSqlCte,
      |vecs AS (
      |  SELECT vec_id, list(q ORDER BY pos) AS qa, CAST(SUM(q * q) AS BIGINT) AS n2
      |  FROM quant GROUP BY vec_id),
      |tp AS (SELECT CAST(i // $PlanesPerTable AS INT) AS tbl, CAST(i AS INT) AS plane
      |       FROM (SELECT unnest(range(${NearDupTables * PlanesPerTable})) AS i)),
      |projs AS (
      |  SELECT vec_id, tbl, plane,
      |         CAST(SUM(CASE WHEN substring(md5(plane::VARCHAR || '-' || pos::VARCHAR), 1, 1)
      |                  IN ('0','1','2','3','4','5','6','7') THEN q ELSE -q END) AS BIGINT) AS proj
      |  FROM quant CROSS JOIN tp GROUP BY vec_id, tbl, plane),
      |keys AS (
      |  SELECT vec_id, tbl,
      |         string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bk
      |  FROM projs GROUP BY vec_id, tbl),
      |ok AS (SELECT tbl, bk FROM keys GROUP BY tbl, bk HAVING COUNT(*) BETWEEN 2 AND 64),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
      |  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id < b.vec_id
      |  JOIN ok ON a.tbl = ok.tbl AND a.bk = ok.bk),
      |scored AS (
      |  SELECT c.v1, c.v2,
      |         ROUND(CAST(list_sum([x.qa[i] * y.qa[i] for i in range(1, len(x.qa) + 1)]) AS DOUBLE)
      |               / (SQRT(CAST(x.n2 AS DOUBLE)) * SQRT(CAST(y.n2 AS DOUBLE))), 6) AS cosine
      |  FROM cand c JOIN vecs x ON c.v1 = x.vec_id JOIN vecs y ON c.v2 = y.vec_id),
      |verified_pairs AS (SELECT v1, v2, cosine FROM scored WHERE cosine >= $CosThreshold)""".stripMargin

  private val q39Sql =
    s"""WITH $cosinePairsSqlCtes
      |SELECT v1, v2, cosine FROM verified_pairs
      |ORDER BY v1, v2""".stripMargin

  // ---------------------------------------------------------------------
  // q50 — SEMANTIC DEDUP over embeddings (the SemDeDup recipe): q39's
  // verified cosine-near-dup pairs grouped into transitive components
  // (Dedup.components — same min-label propagation as text near-dups),
  // one representative (min vec_id) kept per group, every other member
  // marked dropped. The end artifact of embedding-space dedup: a
  // keep/drop verdict per vector, joined back over the full embedding
  // table so ungrouped vectors read (self, group of 1, keep).
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val pairs = cosineNearDupPairs(s, dir)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val comp = Dedup.components(pairs) // (doc_id, root)
    val sizes = comp.groupBy("root").agg(count(lit(1)).as("gs"))
    val labeled = comp.join(sizes, "root")
    Tables.embeddings(s, dir).select(col("vec_id"))
      .join(labeled.select(col("doc_id").as("vec_id"), col("root"), col("gs")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("root"), col("vec_id")).as("canonical_vec_id"),
        coalesce(col("gs"), lit(1L)).as("group_size"),
        (coalesce(col("root"), col("vec_id")) === col("vec_id")).as("keep"))
      .orderBy("vec_id")
  }

  private val q50Sql =
    s"""WITH RECURSIVE $cosinePairsSqlCtes,
      |dup_edges AS (
      |  SELECT v1 AS src, v2 AS dst FROM verified_pairs
      |  UNION
      |  SELECT v2, v1 FROM verified_pairs),
      |${Dedup.componentsSqlCtes},
      |csz AS (SELECT root, COUNT(*) AS gs FROM comp GROUP BY root)
      |SELECT e.vec_id,
      |       COALESCE(c.root, e.vec_id) AS canonical_vec_id,
      |       COALESCE(z.gs, 1) AS group_size,
      |       COALESCE(c.root, e.vec_id) = e.vec_id AS keep
      |FROM (SELECT vec_id FROM embeddings) e
      |LEFT JOIN comp c ON e.vec_id = c.doc_id
      |LEFT JOIN csz z ON c.root = z.root
      |ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q165 — EMBEDDING-SPACE DECONTAMINATION (semantic eval leakage): the
  // paraphrase arm of the decontamination family. q51/q85/q161 catch
  // VERBATIM leakage (shared rare n-grams / 8-token windows); a
  // paraphrased eval item shares no n-gram yet still leaks — its
  // embedding sits next to the eval slice's. This operator points q39's
  // banded-LSH cosine machinery at the eval boundary: the verified
  // near-dup pair set restricted to CROSS-slice pairs (exactly one side
  // in the q51 eval slice, vec_id % 17 = 5), rolled into a per-train-
  // vector verdict — how many eval neighbors, the max cosine, and the
  // nearest eval vec (max cosine, ties to the smaller eval id) — the
  // relation a curation pipeline anti-joins its training set against
  // before an eval-sensitive release (the q72 composed-verdict shape).
  //
  // Scale shape: inherits q39's audited geometry verbatim — capped LSH
  // buckets, codegen'd graft_dot verification, zero all-pairs — and the
  // rollup windows over the bounded verified-pair relation only. The
  // eval slice is JOINED through the same bucket machinery, never
  // broadcast (eval suites are Heaps-unbounded at 100 TB). UnigramSpec's
  // sibling fixture (CurationSpec) separates the arms: a paraphrase hit
  // flags here with zero q161 span removals, a verbatim hit strips in
  // q161 while staying out of this relation.
  private val EvalVecMod = 17   // q51's EvalMod/EvalPhase convention:
  private val EvalVecPhase = 5  // the eval slice is id % 17 = 5

  /** q165's verified CROSS-slice hit relation (train_vec, eval_vec,
    * cosine) — q39's pair set restricted to pairs with exactly one
    * side in the eval slice. Tracked cache: the bounded relation feeds
    * q165's rollup + nearest pick AND the composed release verdict
    * (Curation q168) — the LSH + verify pass over the corpus runs
    * once per consumer query. */
  private[graft] def evalCrossHits(s: SparkSession, dir: String): DataFrame =
    graft.Caches.track(cosineNearDupPairs(s, dir)
      .filter((col("v1") % EvalVecMod === EvalVecPhase) =!=
              (col("v2") % EvalVecMod === EvalVecPhase))
      .select(
        when(col("v1") % EvalVecMod === EvalVecPhase, col("v2")).otherwise(col("v1")).as("train_vec"),
        when(col("v1") % EvalVecMod === EvalVecPhase, col("v1")).otherwise(col("v2")).as("eval_vec"),
        col("cosine")))

  /** The q165 oracle's cross-slice CTE (over [[cosinePairsSqlCtes]]'
    * verified_pairs) — shared with q168's oracle. */
  private[graft] val evalCrossSqlCte =
    s"""cross_hits AS (
      |  SELECT CASE WHEN v1 % $EvalVecMod = $EvalVecPhase THEN v2 ELSE v1 END AS train_vec,
      |         CASE WHEN v1 % $EvalVecMod = $EvalVecPhase THEN v1 ELSE v2 END AS eval_vec,
      |         cosine
      |  FROM verified_pairs
      |  WHERE (v1 % $EvalVecMod = $EvalVecPhase) <> (v2 % $EvalVecMod = $EvalVecPhase))""".stripMargin

  private def q165(s: SparkSession, dir: String): DataFrame = {
    val cross = evalCrossHits(s, dir)
    val agg = cross.groupBy("train_vec")
      .agg(count(lit(1)).cast("int").as("n_eval_hits"),
        max(col("cosine")).as("max_cosine"))
    val nearest = cross.withColumn("rk", row_number().over(
        Window.partitionBy("train_vec").orderBy(col("cosine").desc, col("eval_vec"))))
      .filter(col("rk") === 1)
      .select(col("train_vec"), col("eval_vec").as("nearest_eval"))
    agg.join(nearest, "train_vec")
      .select("train_vec", "n_eval_hits", "max_cosine", "nearest_eval")
      .orderBy("train_vec")
  }

  // The oracle replays the FULL q39 stack (cosinePairsSqlCtes — the
  // hashed-hyperplane banding, capped buckets, exact verification) and
  // applies the same cross-slice restriction + rollup relationally: a
  // hash match certifies the semantic-decontamination verdict end to
  // end against an engine that never saw the Spark plan.
  private val q165Sql =
    s"""WITH $cosinePairsSqlCtes,
      |$evalCrossSqlCte,
      |agg AS (
      |  SELECT train_vec, CAST(COUNT(*) AS INT) AS n_eval_hits,
      |         MAX(cosine) AS max_cosine
      |  FROM cross_hits GROUP BY train_vec),
      |nearest AS (
      |  SELECT train_vec, eval_vec AS nearest_eval FROM (
      |    SELECT train_vec, eval_vec,
      |           ROW_NUMBER() OVER (PARTITION BY train_vec
      |             ORDER BY cosine DESC, eval_vec) AS rk
      |    FROM cross_hits) WHERE rk = 1)
      |SELECT a.train_vec, a.n_eval_hits, a.max_cosine, n.nearest_eval
      |FROM agg a JOIN nearest n USING (train_vec)
      |ORDER BY a.train_vec""".stripMargin

  // ---------------------------------------------------------------------
  // q48 — GEOMETRIC IVF (inverted-file ANN), the classic coarse-quantizer
  // scale path that q38's class-restricted probe is only shaped like:
  //  1. coarse centroids = a deterministic 1-in-61 sample of the corpus
  //     (vec_id % 61 == 3 — stride sampling stands in for k-means, keeps
  //     both engines seed-free; centroid count scales with the corpus);
  //  2. every vector is ASSIGNED to its nearest centroid by exact
  //     integer-quantized cosine — the O(N·K) assignment pass every IVF
  //     build pays, as array dot products against a broadcast centroid
  //     table (no N×K-row shuffle);
  //  3. a query probes its nprobe = 2 nearest cells and ranks only their
  //     members — per-query cost is the probed cells' population, never
  //     the corpus.
  // All ties (equal cosine) break on the lower id, so Spark and DuckDB
  // agree bit-for-bit.
  private[graft] val PivotStride = 61
  private[graft] val PivotPhase = 3
  private val NProbe = 2

  /** The IVF coarse layer shared by q48 (exact in-cell ranking), q71
    * (in-cell ADC over PQ codes), q120 (health report), and q122 (the
    * nprobe sweep, via `maxProbe = SweepMaxProbe`): stride-sampled
    * pivots, the O(N·K) nearest-centroid assignment as array dots
    * against the broadcast pivot table, and the queries' probe-cell
    * lists up to cell-rank `maxProbe`. Returns
    * (assigned(vec_id, cell), probes(qid, cell, crank)); both branch
    * off one tracked-cached affinity relation so the assignment pass
    * runs once — and ONE definition of the pivot/cosine/rank chain
    * serves every consumer, so the sweep cannot drift from the
    * production detector. */
  private def ivfCells(s: SparkSession, dir: String,
                       maxProbe: Int = NProbe): (DataFrame, DataFrame) = {
    val affinity = ivfAffinity(s, dir)
    val assigned = affinity.filter(col("crank") === 1).select("vec_id", "cell")
    val probes = affinity.filter(col("vec_id") < NumQueries && col("crank") <= maxProbe)
      .select(col("vec_id").as("qid"), col("cell"), col("crank"))
    (assigned, probes)
  }

  /** The tracked (vec_id, cell, crank) cell-affinity relation under the
    * IVF coarse layer — factored out of [[ivfCells]] so the graph-ANN
    * build (q184) can read per-NODE probe lists, not just the query
    * set's. Assignment, probes, and the graph's candidate generation
    * all branch from this ONE cached O(N·K) pass. */
  private def ivfAffinity(s: SparkSession, dir: String): DataFrame = {
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
      // tracked cache: assignment + probe + scoring all read it
    val pivots = vecs.filter(col("vec_id") % PivotStride === PivotPhase)
      .select(col("vec_id").as("cell"), col("qa").as("pa"), col("n2").as("pn2"))
    graft.Caches.track(vecs.crossJoin(broadcast(pivots))
      .withColumn("dot", expr("graft_dot(qa, pa)")) // native codegen'd dot (plans.DotProduct)
      .withColumn("cos", cosine(col("dot"), col("n2"), col("pn2")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cell"))))
      .select("vec_id", "cell", "crank"))
      // tracked cache: assignment AND probe branch from it — the O(N·K)
      // pass must run once
  }

  private def q48(s: SparkSession, dir: String): DataFrame = {
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
      // tracked cache (idempotent with ivfCells' own): scoring reads it
    val (assigned, probes) = ivfCells(s, dir)
    // 3. rank the probed cells' members with exact integer cosine
    val cand = probes.join(assigned, "cell")
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").distinct()
    cand
      .join(vecs.select(col("vec_id").as("qid"), col("qa").as("qa1"), col("n2").as("n21")), "qid")
      .join(vecs.select(col("vec_id"), col("qa").as("qa2"), col("n2").as("n22")), "vec_id")
      .withColumn("dot", expr("graft_dot(qa1, qa2)"))
      .withColumn("cos", cosine(col("dot"), col("n21"), col("n22")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** Shared oracle CTE suffix for the IVF coarse layer (q48/q71):
    * expects `$quantSqlCte` upstream; defines cells(vec_id, cell) and
    * probes(qid, cell). */
  private val ivfSqlCtes =
    s"""vecs AS (
      |  SELECT vec_id, list(q ORDER BY pos) AS qa, CAST(SUM(q * q) AS BIGINT) AS n2
      |  FROM quant GROUP BY vec_id),
      |pivots AS (SELECT vec_id AS cell, qa AS pa, n2 AS pn2 FROM vecs WHERE vec_id % $PivotStride = $PivotPhase),
      |affinity AS (
      |  SELECT v.vec_id, p.cell,
      |         CAST(list_sum([v.qa[i] * p.pa[i] for i in range(1, len(v.qa) + 1)]) AS DOUBLE)
      |           / (SQRT(CAST(v.n2 AS DOUBLE)) * SQRT(CAST(p.pn2 AS DOUBLE))) AS cos
      |  FROM vecs v CROSS JOIN pivots p),
      |ranked_cells AS (
      |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS crank
      |  FROM affinity),
      |cells AS (SELECT vec_id, cell FROM ranked_cells WHERE crank = 1),
      |probes AS (SELECT vec_id AS qid, cell FROM ranked_cells WHERE vec_id < $NumQueries AND crank <= $NProbe)""".stripMargin

  private val q48Sql =
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |assigned AS (SELECT vec_id, cell FROM cells),
      |cand AS (
      |  SELECT DISTINCT p.qid, a.vec_id
      |  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qid != a.vec_id),
      |scored AS (
      |  SELECT c.qid, c.vec_id,
      |         CAST(list_sum([x.qa[i] * y.qa[i] for i in range(1, len(x.qa) + 1)]) AS DOUBLE)
      |           / (SQRT(CAST(x.n2 AS DOUBLE)) * SQRT(CAST(y.n2 AS DOUBLE))) AS cos
      |  FROM cand c JOIN vecs x ON c.qid = x.vec_id JOIN vecs y ON c.vec_id = y.vec_id),
      |final_ranked AS (
      |  SELECT qid, vec_id, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, rank
      |FROM final_ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q59 — K-MEANS over the embedding space (Lloyd's algorithm, K = 8,
  // two unrolled iterations): the clustering substrate of
  // cluster-balanced curation — SemDeDup prunes within clusters,
  // mixture-balancing samples across them — reported as per-cluster
  // population and inertia. Determinism across engines and partitionings
  // is total, by construction:
  //  - coordinates quantize at 1e4 (exact float→double, round half away
  //    from zero on both engines), so every distance is pure int64:
  //    dist² = n2v − 2·dot + n2c, and Σ dist² ≤ 2000·2.6e10 ≪ 2^63;
  //  - assignment argmin orders by (n2c − 2·dot, cid) — integer tuple,
  //    no FP comparison anywhere;
  //  - centroid update is the elementwise FLOOR-mean Σq div n (both
  //    engines truncate toward zero, verified for negative sums), so
  //    iteration-2 centroids are identical integers on both engines;
  //  - seeds are vectors 0..7 (k-means|| is the production init at
  //    scale; a fixed seed set is what makes the oracle replayable).
  // Plan shape per iteration: one narrow scoring pass over vectors ×
  // broadcast centroids (K·64 longs — broadcastable at any corpus size)
  // + one (cid, pos) partial-agg shuffle for the update — the canonical
  // distributed Lloyd step; no N×K row materialization ever shuffles.
  private val KmK = 8

  /** The two-iteration Lloyd assignment shared by q59 (cluster summary)
    * and q68 (outlier pruning): returns (vec_id, cid, dist2) after
    * assign → floor-mean update → assign. Tracked caches cover the
    * rolled-up vector relation read by every pass. */
  private[graft] def kmAssignments(s: SparkSession, dir: String): DataFrame = {
    // per-row roll-up straight off the stored array (the corpusVecs
    // shape at 1e4): no posexplode, no ObjectHashAggregate pair, no
    // corpus-wide Exchange — identical integers to the old explode +
    // regroup (same cast chain, HALF_UP round, long arithmetic; the
    // size/notnull filter mirrors what posexplode implied)
    val vecs = graft.Caches.track(Tables.embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000.0, 0) AS BIGINT))")
          .as("qa"))
      .withColumn("n2v", expr("aggregate(qa, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")))
      // tracked cache: read by both assignment passes and both updates
    val c0 = vecs.filter(col("vec_id") < KmK)
      .select(col("vec_id").cast("long").as("cid"), col("qa").as("ca"), col("n2v").as("n2c"))

    // assignment: argmin over (n2c − 2·dot, cid); the winning score IS
    // dist² − n2v, so inertia needs no re-join with the winner's dot
    def assign(cents: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(cents))
        .withColumn("dot", expr("graft_dot(qa, ca)"))
        .withColumn("score", col("n2c") - lit(2L) * col("dot"))
        .groupBy("vec_id")
        .agg(min(struct(col("score"), col("cid"))).as("m"), max(col("n2v")).as("n2v"))
        .select(col("vec_id"), col("m.cid").as("cid"),
          (col("n2v") + col("m.score")).as("dist2"))

    // update: elementwise floor-mean per (cid, pos), rolled back into
    // centroid arrays (empty clusters simply vanish from the relation —
    // identically on both engines). The coordinate rows explode from
    // the CACHED rolled vectors after the membership join (K·64-group
    // aggregation over members only), not from a fresh corpus explode.
    def update(assigned: DataFrame): DataFrame =
      assigned.select("vec_id", "cid").join(vecs, "vec_id")
        .select(col("cid"), posexplode(col("qa")).as(Seq("pos", "q")))
        .groupBy("cid", "pos")
        .agg(expr("sum(q) div count(1) AS c"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c) AS ca"),
             sum(col("c") * col("c")).as("n2c"))

    assign(update(assign(c0)))
  }

  private def q59(s: SparkSession, dir: String): DataFrame =
    kmAssignments(s, dir)
      .groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist2")).as("inertia"))
      .orderBy("cluster_id")

  /** Shared oracle CTE prefix for the k-means family (q59/q68): ends at
    * `assigned(vec_id, cid, dist2)` — the two-iteration Lloyd result. */
  private val kmSqlCtes =
    s"""quant4 AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000.0) AS BIGINT) AS q
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2v FROM quant4 GROUP BY vec_id),
      |c0 AS (SELECT vec_id AS cid, pos, q AS c FROM quant4 WHERE vec_id < $KmK),
      |cn0 AS (SELECT cid, CAST(SUM(c * c) AS BIGINT) AS n2c FROM c0 GROUP BY cid),
      |dot1 AS (
      |  SELECT v.vec_id, c.cid, CAST(SUM(v.q * c.c) AS BIGINT) AS dot
      |  FROM quant4 v JOIN c0 c ON v.pos = c.pos GROUP BY v.vec_id, c.cid),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT d.vec_id, d.cid,
      |           ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY cn.n2c - 2 * d.dot, d.cid) AS rk
      |    FROM dot1 d JOIN cn0 cn ON d.cid = cn.cid) WHERE rk = 1),
      |c1 AS (
      |  SELECT a.cid, q.pos, CAST(SUM(q.q) AS BIGINT) // COUNT(*) AS c
      |  FROM a1 a JOIN quant4 q ON a.vec_id = q.vec_id GROUP BY a.cid, q.pos),
      |cn1 AS (SELECT cid, CAST(SUM(c * c) AS BIGINT) AS n2c FROM c1 GROUP BY cid),
      |dot2 AS (
      |  SELECT v.vec_id, c.cid, CAST(SUM(v.q * c.c) AS BIGINT) AS dot
      |  FROM quant4 v JOIN c1 c ON v.pos = c.pos GROUP BY v.vec_id, c.cid),
      |a2 AS (
      |  SELECT vec_id, cid, n2c - 2 * dot AS score FROM (
      |    SELECT d.vec_id, d.cid, d.dot, cn.n2c,
      |           ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY cn.n2c - 2 * d.dot, d.cid) AS rk
      |    FROM dot2 d JOIN cn1 cn ON d.cid = cn.cid) WHERE rk = 1),
      |assigned AS (
      |  SELECT a.vec_id, a.cid, CAST(n.n2v + a.score AS BIGINT) AS dist2
      |  FROM a2 a JOIN n2 n ON a.vec_id = n.vec_id)""".stripMargin

  private val q59Sql =
    s"""WITH $kmSqlCtes
      |SELECT cid AS cluster_id, COUNT(*) AS n_members,
      |       CAST(SUM(dist2) AS BIGINT) AS inertia
      |FROM assigned
      |GROUP BY cid ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------------
  // q68 — EMBEDDING OUTLIER PRUNING: after the q59 Lloyd assignment,
  // flag the top 3% of each cluster's members by distance to their own
  // centroid — the cluster-relative percentile prune that drops corrupt/
  // mis-embedded rows before semantic dedup or ANN index build (a global
  // threshold can't work when cluster radii differ by orders of
  // magnitude, and a fixed radius multiple fails the other way when the
  // distance distribution is tight — both regimes occur across this
  // corpus's scale factors). The verdict is pure integer rank math:
  // outlier ⇔ rank·100 > n·97 AND dist2 strictly above the cluster
  // median (the strict-median guard keeps tiny clusters from flagging
  // themselves wholesale); the median is the same discrete rank
  // selection as q58 (⌊(n−1)/2⌋+1, an ACTUAL member distance) and is
  // reported for audit.
  //
  // Scale shape: a rank-within-cluster window would sort the WHOLE
  // corpus into K = 8 partitions — the one anti-pattern the round-6
  // plan audit flagged. Instead the two order statistics (rank-t value
  // and median) are found by distributed exact selection: one uniform
  // partial-agg pass builds a bounded log-bucket histogram per cluster,
  // the driver walks its cumulative counts (K·~2.3k rows — control-plane
  // sized, the q46/watermark pattern), and a second pass resolves the
  // exact values inside just the ≤ 2 target buckets per cluster (~1 %
  // value bands). The K thresholds re-enter the verdict scan as literal
  // maps, so corpus rows are touched only by narrow codegen'd passes.
  // Rows tied AT the threshold value get their (dist2, vec_id) rank from
  // a window over the tie group alone, prefiltered by dthr > med — when
  // the threshold equals the median (the constant-distance degenerate)
  // no tie row can be an outlier, so the tie window never sees a whole
  // cluster.
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val assigned = graft.Caches.track(kmAssignments(s, dir))
      // tracked cache: the assignment feeds the two control passes and
      // the final verdict scan

    // One fixed bucketing, monotonic in dist2 and independent of any
    // per-cluster range, so a single aggregation yields sizes, ranges,
    // and the selection histogram together: b = ⌊log2(dist2 + 2)·64⌋ —
    // ~1.1 % relative value width per bucket, ≤ ~2.3k buckets over the
    // whole int64 range, and per-bucket min/max double as exact cluster
    // min/max on the driver.
    val bktCol = floor(log2(col("dist2") + lit(2)) * lit(64)).cast("long")

    // pass 1 — histogram with per-bucket stats; log2 is monotonic, so
    // ascending bkt IS ascending value order
    case class HB(bkt: Long, cnt: Long, bmn: Long, bmx: Long)
    val hist: Map[Long, Seq[HB]] = assigned
      .groupBy(col("cid"), bktCol.as("bkt"))
      .agg(count(lit(1)).as("cnt"), min("dist2").as("bmn"), max("dist2").as("bmx"))
      .collect()
      .map(r => r.getLong(0) -> HB(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1).map { case (cid, rs) => cid -> rs.map(_._2).sortBy(_.bkt).toSeq }
    case class CS(cid: Long, n: Long, mn: Long, mx: Long) {
      val t = n * 97 / 100            // outlier boundary: rank > t ⇔ top 3 %
      val m = (n - 1) / 2 + 1         // discrete median rank
    }
    val cs = hist.map { case (cid, hb) =>
      CS(cid, hb.map(_.cnt).sum, hb.head.bmn, hb.last.bmx) }.toArray

    // driver: walk each cluster's cumulative histogram to find, for each
    // wanted rank r (t if ≥ 1, and m), its bucket and within-bucket
    // rank. Constant-distance clusters (mn == mx) need no selection:
    // every order statistic is mn.
    val spread = cs.filter(c => c.mx > c.mn).map(_.cid).toSet
    case class Tgt(cid: Long, bkt: Long, rib: Long, below: Long, isThr: Boolean)
    val targets = cs.filter(c => spread(c.cid)).flatMap { c =>
      Seq((c.t, true), (c.m, false)).filter(_._1 >= 1).map { case (r, isThr) =>
        var below = 0L
        var hit: Option[Tgt] = None
        for (hb <- hist(c.cid) if hit.isEmpty)
          if (below < r && r <= below + hb.cnt) hit = Some(Tgt(c.cid, hb.bkt, r - below, below, isThr))
          else below += hb.cnt
        hit.get
      }
    }

    // pass 2 — exact resolution inside only the target buckets: rank
    // within bucket by (dist2, vec_id); the value at overall rank r is
    // the (r − below)-th smallest in its bucket. The same window also
    // yields the strictly-below count that pins the threshold tie
    // group's overall rank — rank() ordered by dist2 alone is
    // 1 + (in-bucket rows with a smaller value), so
    // c_lt = below + rnk − 1 and no extra counting pass is needed.
    case class Res(value: Long, cLt: Long)
    val resolved: Map[(Long, Boolean), Res] = if (targets.isEmpty) Map.empty else {
      val bktPred = targets.map(t => col("cid") === t.cid && col("bkt") === t.bkt).reduce(_ || _)
      val ribPred = targets.map(t =>
        col("cid") === t.cid && col("bkt") === t.bkt && col("rib") === t.rib).reduce(_ || _)
      val w = Window.partitionBy("cid", "bkt")
      val rows = assigned.withColumn("bkt", bktCol).filter(bktPred)
        .withColumn("rib", row_number().over(w.orderBy("dist2", "vec_id")))
        .withColumn("rnk", rank().over(w.orderBy("dist2")))
        .filter(ribPred).select("cid", "bkt", "rib", "dist2", "rnk").collect()
      targets.map { t =>
        val v = rows.find(r => r.getLong(0) == t.cid && r.getLong(1) == t.bkt && r.getInt(2).toLong == t.rib).get
        (t.cid, t.isThr) -> Res(v.getLong(3), t.below + v.getInt(4).toLong - 1)
      }.toMap
    }
    // dthr: value at rank t (t = 0 ⇒ every row is past the boundary)
    val dthr = cs.map(c => c.cid -> (
      if (c.t == 0) c.mn - 1
      else if (c.mx == c.mn) c.mn
      else resolved((c.cid, true)).value)).toMap
    val med = cs.map(c => c.cid -> (
      if (c.mx == c.mn) c.mn else resolved((c.cid, false)).value)).toMap
    val dthrCol = element_at(typedLit(dthr), col("cid"))
    val medCol = element_at(typedLit(med), col("cid"))

    // final verdict: rows strictly past the threshold value are outliers
    // iff above the median; rows tied AT the threshold get their
    // (dist2, vec_id) rank from a window over the tie group alone —
    // prefiltered by dthr > med, so when threshold equals median (the
    // constant-distance degenerate) the tie window never sees a cluster
    val tieCids = cs.map(_.cid).filter(c => dthr(c) > med(c))
    val isTie = if (tieCids.isEmpty) lit(false)
      else col("cid").isInCollection(tieCids) && col("dist2") === dthrCol
    val nonTie = assigned.filter(!isTie)
      .withColumn("is_outlier", col("dist2") > medCol && col("dist2") > dthrCol)
    // a tie cid always carries a thr target: dthr > med rules out both
    // the t = 0 and the constant-distance shortcuts
    val cLtCol = element_at(
      typedLit(tieCids.map(c => c -> resolved((c, true)).cLt).toMap), col("cid"))
    val tCol = element_at(typedLit(cs.map(c => c.cid -> c.t).toMap), col("cid"))
    val tie = assigned.filter(isTie) // dist2 == dthr > med ⇒ median guard holds
      .withColumn("tr", row_number().over(Window.partitionBy("cid").orderBy("vec_id")))
      .withColumn("is_outlier", cLtCol + col("tr") > tCol)
    nonTie.withColumn("med", medCol)
      .select("vec_id", "cid", "dist2", "med", "is_outlier")
      .union(tie.withColumn("med", medCol)
        .select("vec_id", "cid", "dist2", "med", "is_outlier"))
      .orderBy("vec_id")
  }

  private val q68Sql =
    s"""WITH $kmSqlCtes,
      |ranked AS (
      |  SELECT vec_id, cid, dist2,
      |         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist2, vec_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY cid) AS n
      |  FROM assigned),
      |med AS (
      |  SELECT cid, MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN dist2 END) AS med
      |  FROM ranked GROUP BY cid)
      |SELECT r.vec_id, r.cid, r.dist2, m.med,
      |       r.rn * 100 > r.n * 97 AND r.dist2 > m.med AS is_outlier
      |FROM ranked r JOIN med m ON r.cid = m.cid
      |ORDER BY r.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q63 — PRODUCT QUANTIZATION (Jégou et al., the IVF-PQ memory layer):
  // the 64-dim space splits into M = 8 subspaces of 8 dims; each
  // subspace trains its own K = 16 codebook (the same integer-
  // deterministic Lloyd step as q59, all subspaces trained in ONE pass
  // by carrying the subspace id through every aggregation), and every
  // vector compresses to 8 codeword ids — 64 floats → 8 nibbles, the
  // 32× compression that lets a 100 TB embedding store serve ANN from
  // memory. Output per vector: the code string and the total integer
  // quantization error Σ_s ‖v_s − c_s‖² (the reconstruction loss an
  // ADC distance table would incur).
  //
  // Scale shape: training joins on (subspace, pos) against K·M·8 = 1024
  // broadcast-sized centroid rows; assignment is a (vec, subspace)
  // partial-agg shuffle. Nothing is per-pair; the corpus is touched
  // twice per Lloyd iteration, identically to single-space k-means.
  private[graft] val PqM = 8 // subspaces
  private[graft] val PqDim = 8 // dims per subspace
  private val PqK = 16       // codewords per subspace

  /** PQ subvector relation (vec_id, sub, qa[PqDim], n2v) at 1e4
    * quantization — same determinism story as q59: every distance and
    * update is int64 on both engines. Rolled into ARRAYS so every Lloyd
    * pass is a broadcast crossJoin + codegen'd graft_dot instead of a
    * corpus×K coordinate shuffle (the oracle keeps the relational
    * (sub, p) join — identical integers, independent plan). Tracked
    * cache: feeds seeds, both assignment passes, both updates (and, for
    * q64, the query-side distance tables). */
  private def pqQuantRows(emb: DataFrame): DataFrame =
    // per-row subvector split: slice the stored array into the PqM
    // subspaces and quantize in place — an 8-way narrow explode with NO
    // coordinate-level fan-out, NO ObjectHashAggregate pair and NO
    // (vec_id, sub) Exchange (the old form exploded all 64 coordinates
    // and shuffled them back together). Bit-identical: slice preserves
    // the p = pos0 % PqDim order array_sort re-established, sub keeps
    // the old `pos0 div PqDim` LONG type, same cast/round/overflow.
    emb.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${PqM - 1} AS BIGINT))")).as("sub"),
        col("embedding"))
      .select(col("vec_id"), col("sub"),
        expr(s"transform(slice(embedding, CAST(sub * $PqDim + 1 AS INT), $PqDim), " +
          "v -> CAST(round(CAST(v AS DOUBLE) * 10000.0, 0) AS BIGINT))").as("qa"))
      .withColumn("n2v", expr("aggregate(qa, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))

  private def pqQuant(s: SparkSession, dir: String): DataFrame =
    graft.Caches.track(pqQuantRows(Tables.embeddings(s, dir)))

  /** All (vec, sub, codeword) scores for one Lloyd step: score =
    * n2c − 2·dot, keyed (vec_id, sub, cid) — the pre-argmin relation,
    * produced by one narrow pass over the subvector rows × the broadcast
    * codebook (M·K arrays of PqDim longs — broadcastable at any corpus
    * size). ‖v_s − c‖² = n2v_s + score, so the same relation serves
    * assignment (argmin) and q64's asymmetric distance tables. */
  private def pqScores(quantS: DataFrame, cents: DataFrame): DataFrame =
    quantS.join(broadcast(cents), Seq("sub"))
      .withColumn("dot", expr("graft_dot(qa, ca)"))
      .withColumn("score", col("n2c") - lit(2L) * col("dot"))
      .select("vec_id", "sub", "cid", "score")

  /** Lloyd assignment: argmin over (score, cid) per (vec, sub) — a
    * partial-aggregated min(struct), no window sort. */
  private def pqAssign(quantS: DataFrame, cents: DataFrame): DataFrame =
    pqScores(quantS, cents)
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("score"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"), col("m.score").as("score"))

  /** Lloyd update: elementwise floor-mean per (cid, sub, p), rolled back
    * into codebook arrays (cid, sub, ca, n2c). */
  private def pqUpdate(quantS: DataFrame, assigned: DataFrame): DataFrame =
    assigned.select("vec_id", "sub", "cid")
      .join(quantS, Seq("vec_id", "sub"))
      .select(col("cid"), col("sub"), posexplode(col("qa")).as(Seq("p0", "q")))
      .groupBy("cid", "sub", "p0")
      .agg(expr("sum(q) div count(1) AS c"))
      .groupBy("cid", "sub")
      .agg(expr("transform(array_sort(collect_list(struct(p0, c))), x -> x.c) AS ca"),
           sum(col("c") * col("c")).as("n2c"))

  private def pqSeeds(quantS: DataFrame): DataFrame =
    quantS.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), col("sub"), col("qa").as("ca"), col("n2v").as("n2c"))

  private def q63(s: SparkSession, dir: String): DataFrame = {
    val quantS = pqQuant(s, dir)
    val c0 = pqSeeds(quantS)
    val a2 = pqAssign(quantS, pqUpdate(quantS, pqAssign(quantS, c0)))
    a2.join(quantS.select("vec_id", "sub", "n2v"), Seq("vec_id", "sub"))
      .groupBy("vec_id")
      .agg(
        // code = subspace-ordered codeword ids; deterministic because
        // (sub, cid) pairs are unique per vector after the argmin
        expr("array_join(transform(array_sort(collect_list(struct(sub, cid))), x -> x.cid), '-')")
          .as("code"),
        sum(col("n2v") + col("score")).as("qerr"))
      .orderBy("vec_id")
  }

  /** Shared oracle CTE prefix for the PQ family (q63/q64): coordinate
    * quantization, seed codebook, one full Lloyd step (assignment dot1/a1
    * + floor-mean update c1), and the second-iteration scores dot2/a2 —
    * a2 carries both the winning codeword (the CODE) and its score. */
  /** The PQ CTE stack with the TRAINING side restricted by `trainWhere`
    * (seeds, Lloyd assignment, and centroid update read only the
    * restricted relation) while the final encode (dot2/scores2/a2) still
    * covers EVERY vector — with `TRUE` this is exactly the classic
    * whole-corpus stack; with a batch predicate negated it replays q87's
    * train-on-yesterday / encode-everything contract. */
  private def pqSqlCtesFor(trainWhere: String) =
    s"""quants AS (
      |  SELECT vec_id, (pos - 1) // $PqDim AS sub, (pos - 1) % $PqDim AS p, q
      |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000.0) AS BIGINT) AS q
      |        FROM embeddings)),
      |qtrain AS (SELECT * FROM quants WHERE $trainWhere),
      |c0 AS (SELECT vec_id AS cid, sub, p, q AS c FROM qtrain WHERE vec_id < $PqK),
      |cn0 AS (SELECT cid, sub, CAST(SUM(c * c) AS BIGINT) AS n2c FROM c0 GROUP BY cid, sub),
      |dot1 AS (
      |  SELECT v.vec_id, v.sub, c.cid, CAST(SUM(v.q * c.c) AS BIGINT) AS dot
      |  FROM qtrain v JOIN c0 c ON v.sub = c.sub AND v.p = c.p
      |  GROUP BY v.vec_id, v.sub, c.cid),
      |a1 AS (
      |  SELECT vec_id, sub, cid FROM (
      |    SELECT d.vec_id, d.sub, d.cid,
      |           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.sub
      |             ORDER BY cn.n2c - 2 * d.dot, d.cid) AS rk
      |    FROM dot1 d JOIN cn0 cn ON d.cid = cn.cid AND d.sub = cn.sub) WHERE rk = 1),
      |c1 AS (
      |  SELECT a.cid, q.sub, q.p, CAST(SUM(q.q) AS BIGINT) // COUNT(*) AS c
      |  FROM a1 a JOIN qtrain q ON a.vec_id = q.vec_id AND a.sub = q.sub
      |  GROUP BY a.cid, q.sub, q.p),
      |cn1 AS (SELECT cid, sub, CAST(SUM(c * c) AS BIGINT) AS n2c FROM c1 GROUP BY cid, sub),
      |dot2 AS (
      |  SELECT v.vec_id, v.sub, c.cid, CAST(SUM(v.q * c.c) AS BIGINT) AS dot
      |  FROM quants v JOIN c1 c ON v.sub = c.sub AND v.p = c.p
      |  GROUP BY v.vec_id, v.sub, c.cid),
      |scores2 AS (
      |  SELECT d.vec_id, d.sub, d.cid, cn.n2c - 2 * d.dot AS score
      |  FROM dot2 d JOIN cn1 cn ON d.cid = cn.cid AND d.sub = cn.sub),
      |a2 AS (
      |  SELECT vec_id, sub, cid, score FROM (
      |    SELECT vec_id, sub, cid, score,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |             ORDER BY score, cid) AS rk
      |    FROM scores2) WHERE rk = 1)""".stripMargin

  private[graft] val pqSqlCtes = pqSqlCtesFor("TRUE")

  /** ADC ranks served from the PERSISTED PQ index (q79's artifact) for
    * a given query-id set at arm depth k: (qid INT, vec_id, vrank).
    * The vector arm of the served hybrid fusion (Corpus q135) — same
    * distance pairing as [[serveAdc]] (d = n2q + n2c − 2·dot per sub,
    * summed over stored code assignments), kept here so the served arm
    * cannot drift from the q79/q87 contract. `tombPaths` = published
    * takedown generations whose ids the served codes anti-join (q138's
    * vector arm — the [[pqTakedown]] contract). */
  private[graft] def adcRanks(s: SparkSession, dir: String,
                              qids: Seq[Int], k: Int,
                              tombPaths: Seq[String] = Nil): DataFrame = {
    buildPqIndex(s, dir)
    val path = pqIndexPath(s, dir)
    val codebook = s.read.parquet(s"$path/codebook")
    val codes = dropTombstoned(s, s.read.parquet(s"$path/codes"), tombPaths)
    val qquant = pqQuantRows(Tables.embeddings(s, dir)
        .filter(col("vec_id").isin(qids.map(_.toLong): _*)))
      .withColumnRenamed("n2v", "n2q")
    val dtab = qquant.join(broadcast(codebook), Seq("sub"))
      .withColumn("dot", expr("graft_dot(qa, ca)"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        (col("n2q") + col("n2c") - lit(2L) * col("dot")).as("d"))
    codes.join(broadcast(dtab), Seq("sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("d")).as("adist"))
      .withColumn("vrank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))))
      .filter(col("vrank") <= k)
      .select(col("qid").cast("int").as("qid"), col("vec_id"), col("vrank"))
  }

  /** SQL twin of [[adcRanks]] over the `quants`/`scores2`/`a2` CTEs of
    * [[pqSqlCtes]] — names prefixed `h` to compose with the BM25 stack
    * in q135's oracle. `serveWhere` (in terms of `a`) excludes
    * tombstoned ids from the served codes for q138's oracle. */
  private[graft] def adcRanksSqlCtes(qids: Seq[Int], k: Int,
                                     serveWhere: String = "TRUE"): String =
    s"""hn2q AS (
      |  SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2q
      |  FROM quants WHERE vec_id IN (${qids.mkString(", ")}) GROUP BY vec_id, sub),
      |hdtab AS (
      |  SELECT CAST(s.vec_id AS INTEGER) AS qid, s.sub, s.cid, n.n2q + s.score AS d
      |  FROM scores2 s JOIN hn2q n ON s.vec_id = n.vec_id AND s.sub = n.sub),
      |hadc AS (
      |  SELECT t.qid, a.vec_id, CAST(SUM(t.d) AS BIGINT) AS adist
      |  FROM a2 a JOIN hdtab t ON a.sub = t.sub AND a.cid = t.cid
      |  WHERE t.qid != a.vec_id AND ($serveWhere)
      |  GROUP BY t.qid, a.vec_id),
      |vranks AS (
      |  SELECT qid, vec_id, vrank FROM (
      |    SELECT qid, vec_id,
      |           CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS INT) AS vrank
      |    FROM hadc) WHERE vrank <= $k)""".stripMargin

  private val q63Sql =
    s"""WITH $pqSqlCtes,
      |n2v AS (SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2v FROM quants GROUP BY vec_id, sub)
      |SELECT a.vec_id,
      |       string_agg(a.cid::VARCHAR, '-' ORDER BY a.sub) AS code,
      |       CAST(SUM(n.n2v + a.score) AS BIGINT) AS qerr
      |FROM a2 a JOIN n2v n ON a.vec_id = n.vec_id AND a.sub = n.sub
      |GROUP BY a.vec_id ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q121 — PQ CODEBOOK HEALTH REPORT: q120's dashboard for the memory
  // layer — per subspace: how many of the K codewords are actually
  // used (dead codewords waste the code budget and shrink effective
  // precision), the largest codeword's population share (a collapsed
  // subspace routes everything through one code — ADC distances stop
  // discriminating), and the average integer reconstruction error
  // Σ‖v_s − c_s‖² div n (the distortion every ADC distance inherits).
  // An index build gates deployment on exactly these three numbers.
  //
  // Scale: reuses the q63 training/assignment stack unchanged; the
  // rollups are (M·K)- and M-sized. Integer ppm/milli throughout.
  /** q121's per-sub health rollup from a (sub, cid, qerr) relation —
    * ONE definition shared by q121 (freshly-trained build) and q124's
    * retrain gate (the compacted artifact's stored codes), so the gate
    * cannot drift from the dashboard it thresholds. */
  private def pqHealth(wErr: DataFrame): DataFrame = {
    val perCode = wErr.groupBy("sub", "cid").agg(count(lit(1)).as("cnt"))
    val codeStats = perCode.groupBy("sub").agg(
      count(lit(1)).as("codes_used"), max(col("cnt")).as("max_code"))
    wErr.groupBy("sub")
      .agg(count(lit(1)).as("n_vectors"), sum(col("qerr")).as("sum_qerr"))
      .join(codeStats, "sub")
      .withColumn("util_ppm", expr(s"(1000000 * codes_used) div $PqK"))
      .withColumn("top_code_share_ppm", expr("(1000000 * max_code) div n_vectors"))
      .withColumn("avg_qerr", expr("sum_qerr div n_vectors"))
      .select("sub", "n_vectors", "codes_used", "util_ppm",
        "top_code_share_ppm", "avg_qerr")
  }

  private def q121(s: SparkSession, dir: String): DataFrame = {
    val quantS = pqQuant(s, dir)
    val c0 = pqSeeds(quantS)
    val a2 = pqAssign(quantS, pqUpdate(quantS, pqAssign(quantS, c0)))
    val wErr = a2.join(quantS.select("vec_id", "sub", "n2v"), Seq("vec_id", "sub"))
      .withColumn("qerr", col("n2v") + col("score"))
    pqHealth(wErr).orderBy("sub")
  }

  private val q121Sql =
    s"""WITH $pqSqlCtes,
      |n2v AS (SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2v FROM quants GROUP BY vec_id, sub),
      |werr AS (
      |  SELECT a.sub, a.cid, n.n2v + a.score AS qerr
      |  FROM a2 a JOIN n2v n ON a.vec_id = n.vec_id AND a.sub = n.sub),
      |pc AS (SELECT sub, cid, COUNT(*) AS cnt FROM werr GROUP BY sub, cid),
      |cs AS (SELECT sub, COUNT(*) AS codes_used, MAX(cnt) AS max_code FROM pc GROUP BY sub),
      |sv AS (SELECT sub, COUNT(*) AS n_vectors, CAST(SUM(qerr) AS BIGINT) AS sum_qerr FROM werr GROUP BY sub)
      |SELECT sv.sub, sv.n_vectors, cs.codes_used,
      |       (1000000 * cs.codes_used) // $PqK AS util_ppm,
      |       (1000000 * cs.max_code) // sv.n_vectors AS top_code_share_ppm,
      |       sv.sum_qerr // sv.n_vectors AS avg_qerr
      |FROM sv JOIN cs ON sv.sub = cs.sub ORDER BY sv.sub""".stripMargin

  // ---------------------------------------------------------------------
  // q64 — ADC SEARCH over the PQ codes (Jégou et al. §IV: asymmetric
  // distance computation — the query stays UNCOMPRESSED, the corpus is
  // its 8-nibble codes): each query precomputes a distance TABLE
  // d(q, sub, cid) = ‖q_s − c_{s,cid}‖² (M·K = 128 integers per query),
  // then every corpus vector is scored as Σ_s dtab[s][code_s(v)] — 8
  // table lookups per vector instead of 64 multiplies, and the memory
  // touched per vector is the 8-byte code, not the 256-byte raw vector.
  // This is the scan Faiss's IVFPQ runs inside each probed cell; here it
  // sweeps the whole corpus (the IVF cell restriction is q48's job).
  //
  // Plan shape: the distance tables are Q·M·K = 1024 rows — broadcast;
  // the corpus side joins its (vec, sub, cid) codes to them on
  // (sub, cid) and partial-aggregates Σd by (qid, vec) — one uniform
  // shuffle of Q rows per corpus vector, never a Q×corpus×dim blow-up.
  // All arithmetic is the same int64 as training, so adist is exact and
  // the top-k boundary is engine-independent (ties break on vec_id).
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val quantS = pqQuant(s, dir)
    val c0 = pqSeeds(quantS)
    val cents2 = pqUpdate(quantS, pqAssign(quantS, c0))
    val scores2 = graft.Caches.track(pqScores(quantS, cents2))
      // tracked cache: the second-iteration score relation feeds BOTH the
      // corpus codes (argmin) and the query distance tables (all cids)
    val codes = scores2
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("score"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))
    val n2q = quantS.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("sub"), col("n2v").as("n2q"))
    val dtab = scores2.filter(col("vec_id") < NumQueries)
      .join(n2q, Seq("vec_id", "sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        (col("n2q") + col("score")).as("d"))
    codes.join(broadcast(dtab), Seq("sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("qid", "vec_id", "adist", "rank")
      .orderBy("qid", "rank")
  }

  /** q64's ADC search stack over whatever pq CTE prefix precedes it —
    * shared verbatim by q64 (train = encode = whole corpus), q79 (same
    * contract served from the artifact), and q87 (train = yesterday's
    * corpus, encode = everything). `serveWhere` restricts the SERVED
    * code set (in terms of `a`, the encoded-corpus alias) — q136/q137
    * replay a takedown by excluding the removed ids from serving while
    * the training/encode CTEs above stay untouched (the codebook is
    * frozen; removal never retrains). */
  private def adcSqlStackFor(serveWhere: String) =
    s"""n2q AS (
      |  SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2q
      |  FROM quants WHERE vec_id < $NumQueries GROUP BY vec_id, sub),
      |dtab AS (
      |  SELECT s.vec_id AS qid, s.sub, s.cid, n.n2q + s.score AS d
      |  FROM scores2 s JOIN n2q n ON s.vec_id = n.vec_id AND s.sub = n.sub
      |  WHERE s.vec_id < $NumQueries),
      |adc AS (
      |  SELECT t.qid, a.vec_id, CAST(SUM(t.d) AS BIGINT) AS adist
      |  FROM a2 a JOIN dtab t ON a.sub = t.sub AND a.cid = t.cid
      |  WHERE t.qid != a.vec_id AND ($serveWhere)
      |  GROUP BY t.qid, a.vec_id),
      |ranked AS (
      |  SELECT qid, vec_id, adist,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS INT) AS rank
      |  FROM adc)
      |SELECT qid, vec_id, adist, rank
      |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  private val adcSqlStack = adcSqlStackFor("TRUE")

  private val q64Sql = s"WITH $pqSqlCtes,\n$adcSqlStack"

  // ---------------------------------------------------------------------
  // q71 — IVF-PQ SEARCH, the two layers composed (the complete Faiss
  // IVFPQ architecture, Jégou et al. §V): the IVF coarse quantizer
  // (q48's stride-pivot cells) restricts each query to its nprobe = 2
  // cells, and the PQ ADC tables (q64's) score ONLY those cells'
  // members — per-query work is the probed population × 8 table lookups,
  // independent of corpus size. This is the operator a 100 TB embedding
  // store actually serves queries from: the IVF list bounds the scan,
  // the PQ codes bound the memory, and the uncompressed query keeps the
  // precision. Candidate generation is an equi-join on `cell`; ADC
  // scoring joins the candidates' 8-nibble codes to the broadcast
  // distance tables — nothing corpus-sized is ever re-shuffled.
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val (cells, probes) = ivfCells(s, dir)
    val quantS = pqQuant(s, dir)
    val cents2 = pqUpdate(quantS, pqAssign(quantS, pqSeeds(quantS)))
    val scores2 = graft.Caches.track(pqScores(quantS, cents2))
      // tracked cache: feeds corpus codes AND query distance tables
    val codes = scores2
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("score"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))
    val dtab = scores2.filter(col("vec_id") < NumQueries)
      .join(quantS.filter(col("vec_id") < NumQueries)
        .select(col("vec_id"), col("sub"), col("n2v").as("n2q")), Seq("vec_id", "sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        (col("n2q") + col("score")).as("d"))
    val cand = probes.join(cells, "cell")
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").distinct()
    cand.join(codes, "vec_id")
      .join(broadcast(dtab), Seq("qid", "sub", "cid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("qid", "vec_id", "adist", "rank")
      .orderBy("qid", "rank")
  }

  private val q71Sql =
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |$pqSqlCtes,
      |cand AS (
      |  SELECT DISTINCT p.qid, c.vec_id
      |  FROM probes p JOIN cells c ON p.cell = c.cell AND p.qid != c.vec_id),
      |n2q AS (
      |  SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2q
      |  FROM quants WHERE vec_id < $NumQueries GROUP BY vec_id, sub),
      |dtab AS (
      |  SELECT s.vec_id AS qid, s.sub, s.cid, n.n2q + s.score AS d
      |  FROM scores2 s JOIN n2q n ON s.vec_id = n.vec_id AND s.sub = n.sub
      |  WHERE s.vec_id < $NumQueries),
      |adc AS (
      |  SELECT x.qid, x.vec_id, CAST(SUM(t.d) AS BIGINT) AS adist
      |  FROM cand x
      |  JOIN a2 a ON x.vec_id = a.vec_id
      |  JOIN dtab t ON t.qid = x.qid AND t.sub = a.sub AND t.cid = a.cid
      |  GROUP BY x.qid, x.vec_id),
      |rankedq AS (
      |  SELECT qid, vec_id, adist,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS INT) AS rank
      |  FROM adc)
      |SELECT qid, vec_id, adist, rank
      |FROM rankedq WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q86 — ANN RECALL@K: the eval-loop operator the index family is
  // served under. An approximate index is never deployed on faith — the
  // production loop is train → measure recall@k on a held-out query set
  // against exact search → tune (nprobe, K, M) → re-measure. This
  // operator IS that measurement: per query vector, |exact top-k ∩
  // IVF-PQ-served top-k| / k, with exact truth from the engine's own
  // brute-force contract (q36's broadcast + codegen'd integer dot shape,
  // cut at k = 3) and the served side from q71's composed IVF-PQ path.
  // Scale stance: recall eval runs offline over a SAMPLED query set, so
  // the brute-force arm is queries × corpus with zero corpus shuffle
  // (the q36 plan — one narrow corpus pass against a broadcast query
  // set), the served arm is the index's own bounded-probe plan, and the
  // comparison join is k rows per query — the whole operator adds
  // nothing corpus-shaped beyond the two arms it measures. Determinism:
  // both arms are the already-deterministic integer pipelines; hits is
  // an integer; recall = round(hits/k, 6) is one IEEE division of
  // small integers (never a rounding tie at k = 3).
  private val RecallK = 3

  private def q86(s: SparkSession, dir: String): DataFrame = {
    val vecs = corpusVecs(s, dir).select("vec_id", "qa", "n2")
    val queriesV = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val exact = vecs.crossJoin(broadcast(queriesV))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= RecallK)
      .select("qid", "vec_id")
    val served = q71(s, dir).select(col("qid"), col("vec_id"), lit(1).as("hit"))
    exact.join(served, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
      .withColumn("recall", round(col("hits") / lit(RecallK.toDouble), 6))
      .orderBy("qid")
      .select("qid", "hits", "recall")
  }

  private val q86Sql =
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |$pqSqlCtes,
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.qid, d.vec_id,
      |         CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) AS cos
      |  FROM dots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |rankedex AS (
      |  SELECT qid, vec_id,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored),
      |exact3 AS (SELECT qid, vec_id FROM rankedex WHERE rank <= $RecallK),
      |cand AS (
      |  SELECT DISTINCT p.qid, c.vec_id
      |  FROM probes p JOIN cells c ON p.cell = c.cell AND p.qid != c.vec_id),
      |n2q AS (
      |  SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2q
      |  FROM quants WHERE vec_id < $NumQueries GROUP BY vec_id, sub),
      |dtab AS (
      |  SELECT s.vec_id AS qid, s.sub, s.cid, n.n2q + s.score AS d
      |  FROM scores2 s JOIN n2q n ON s.vec_id = n.vec_id AND s.sub = n.sub
      |  WHERE s.vec_id < $NumQueries),
      |adc AS (
      |  SELECT x.qid, x.vec_id, CAST(SUM(t.d) AS BIGINT) AS adist
      |  FROM cand x
      |  JOIN a2 a ON x.vec_id = a.vec_id
      |  JOIN dtab t ON t.qid = x.qid AND t.sub = a.sub AND t.cid = a.cid
      |  GROUP BY x.qid, x.vec_id),
      |rankedq AS (
      |  SELECT qid, vec_id,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rank
      |  FROM adc),
      |served AS (SELECT qid, vec_id FROM rankedq WHERE rank <= $RecallK)
      |SELECT e.qid AS qid,
      |       CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      |       ROUND(CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $RecallK.0, 6) AS recall
      |FROM exact3 e LEFT JOIN served s ON e.qid = s.qid AND e.vec_id = s.vec_id
      |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  // ---------------------------------------------------------------------
  // q184 — GRAPH-BASED ANN (NSW-shape greedy beam search over a bounded
  // neighbor graph): the production ANN family (HNSW/NSW) the
  // IVF/PQ/LSH/brute quartet does not cover. Two halves, both
  // deterministic and both replayed relationally by the oracle:
  //
  //  BUILD — a bounded-degree neighbor graph: each node's candidates are
  //  the co-members of its GraphBuildProbe nearest IVF cells (the
  //  tracked ivfAffinity relation — ONE O(N·K) pass shared with
  //  q48/q71/q120/q122), and its out-edges are CELL-STRATIFIED: the
  //  GraphM/GraphBuildProbe nearest co-members of EACH probed cell, not
  //  the GraphM nearest overall. Stratification is the role HNSW's
  //  edge-diversity heuristic plays — a plain kNN graph's edges all
  //  point into the node's own cluster and greedy search cannot cross
  //  cluster boundaries (measured on the driver embeddings: recall@3
  //  0.08 with global top-4 edges vs 0.92+ stratified — the corpus has
  //  10 label clusters and the stride-61 pivots miss 3 of them, so
  //  cross-cell edges are the only long-range links). This is the NSW
  //  construction discipline with the insert-order dependence removed:
  //  candidate generation via a coarse quantizer instead of incremental
  //  greedy insertion keeps the build ORDER-FREE (hence replayable by a
  //  set-oriented engine — the q47/q89/q164 determinism requirement met
  //  without golden files) and embarrassingly parallel: candidates =
  //  Σ_cells members × probers, never N², and the per-(node, cell)
  //  top-k is a bounded window.
  //
  //  SEARCH — greedy beam over the graph, GraphRounds unrolled rounds:
  //  the frontier seeds at the query's GraphEntries nearest PIVOTS (the
  //  coarse layer stands in for HNSW's upper hierarchy — its job, a
  //  good entry point in O(K), is exactly what the pivot affinity row
  //  already computed), then each round expands the frontier along
  //  out-edges, scores frontier ∪ neighbors by exact cosine against the
  //  query, and keeps the GraphBeam best (monotone: the frontier rides
  //  along, so the best-so-far never regresses). Served top-k = the
  //  final frontier's best GraphK. Per-query cost is E + R·B·M scored
  //  candidates — INDEPENDENT of corpus size, the bounded-probe serve
  //  contract (census row), with recall measured q86-style by q185.
  //  Ties break (cos desc, vec_id) everywhere, so both engines agree
  //  bit-for-bit.
  //
  //  OPERATING POINT — the registered config is the RECALL-CRITICAL
  //  point off the round-18 measured (density × walk) surface
  //  (BASELINE.md graph-ANN density curve, sf1 = 20k vectors): the
  //  original M=32 + (8,16,6) config read recall@3 0.542 at sf1 — 8
  //  entry probes cover 2.4% of sf1's 328-cell coarse layer and the
  //  sparse graph lacks the edges to route across it — while M=128 +
  //  (16,32,8) reads 0.917 (density 4× alone: 0.875; walk 2× alone:
  //  0.542 — density is the binding lever, q187's curve). Build cost
  //  stays linear in N·probe·perCell off the one shared ivfAffinity
  //  pass; per-query serve cost stays corpus-independent (E + R·B·M
  //  scored candidates). The q186/q187 sweeps keep the SPARSER configs
  //  as their cheap arms, so the curve that justified this point stays
  //  measured every round.
  private[graft] val GraphM = 128        // out-degree bound of the neighbor graph
  private[graft] val GraphBuildProbe = 16 // IVF cells probed per node at build
  private[graft] val GraphPerCell = GraphM / GraphBuildProbe // stratified edges/cell
  private[graft] val GraphEntries = 16   // entry pivots per query
  private[graft] val GraphBeam = 32      // beam width per round
  private[graft] val GraphRounds = 8     // unrolled greedy rounds
  private[graft] val GraphK = 3          // served top-k (q185 measures recall@3)

  /** The bounded-degree neighbor graph (src, dst), GraphM out-edges per
    * node from IVF-co-member candidates. Tracked: the search reads it
    * once per round. private[graft] for GraphAnnSpec's degree audit. */
  private[graft] def graphAdj(s: SparkSession, dir: String): DataFrame =
    graphAdjOf(s, dir, GraphBuildProbe, GraphPerCell)

  /** ONE scored-candidate pass at the PRODUCTION density, shared by
    * every build arm at or below it: (src, dst, crank, nrank) with
    * crank ≤ GraphBuildProbe and nrank ≤ GraphPerCell. crank is
    * constant within a (node, cell) group and nrank ranks within that
    * group, so the (bp ≤ GraphBuildProbe, pc ≤ GraphPerCell) arm's edge
    * set is EXACTLY the rows with crank ≤ bp AND nrank ≤ pc — a cell's
    * per-member ranking is unaffected by which OTHER cells are probed.
    * q187's density sweep previously ran this O(N·probe·perCellMembers)
    * scoring pass once PER ARM; the sub-density arms are now filters
    * over the dense arm's cached pass (3 builds → 1). */
  private def graphAdjScored(s: SparkSession, dir: String): DataFrame = {
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
    val aff = ivfAffinity(s, dir)
    val probes = aff.filter(col("crank") <= GraphBuildProbe)
      .select("vec_id", "cell", "crank")
    val members = aff.filter(col("crank") === 1)
      .select(col("vec_id").as("nbr"), col("cell"))
    // each candidate arrives through exactly ONE cell (its assignment),
    // so (vec_id, nbr) is already unique and the per-(node, cell) rank
    // below stratifies without a distinct
    val cand = probes.join(members, "cell")
      .filter(col("vec_id") =!= col("nbr"))
      .select("vec_id", "cell", "crank", "nbr")
    graft.Caches.track(cand
      .join(vecs.select(col("vec_id"), col("qa").as("qa1"), col("n2").as("n21")), "vec_id")
      .join(vecs.select(col("vec_id").as("nbr"), col("qa").as("qa2"), col("n2").as("n22")), "nbr")
      .withColumn("dot", expr("graft_dot(qa1, qa2)"))
      .withColumn("cos", cosine(col("dot"), col("n21"), col("n22")))
      .withColumn("nrank", row_number().over(
        Window.partitionBy("vec_id", "cell").orderBy(col("cos").desc, col("nbr"))))
      .filter(col("nrank") <= GraphPerCell)
      .select(col("vec_id").as("src"), col("nbr").as("dst"),
        col("crank"), col("nrank")))
  }

  /** [[graphAdj]] parameterized by build density — `buildProbe` cells
    * probed per node × `perCell` stratified edges per probed cell, so
    * M = buildProbe·perCell. q187's densification curve sweeps these
    * (the 100 TB recall lever q186's walk-budget sweep plateaus on).
    * Densities at or below the registered production point derive from
    * the shared [[graphAdjScored]] pass (bit-identical edges, see its
    * doc). A DENSER request is REJECTED by the require below — the
    * shared pass only covers the registered density, and silently
    * serving a truncated edge set would corrupt a denser build; a
    * caller that genuinely needs one must raise GraphBuildProbe /
    * GraphPerCell (re-registering the production density) rather than
    * sweep past it. */
  private[graft] def graphAdjOf(s: SparkSession, dir: String,
                                buildProbe: Int, perCell: Int): DataFrame = {
    require(buildProbe <= GraphBuildProbe && perCell <= GraphPerCell,
      s"graphAdjOf($buildProbe, $perCell) exceeds the registered build " +
        s"density ($GraphBuildProbe, $GraphPerCell) the shared scored pass covers")
    graphAdjScored(s, dir)
      .filter(col("crank") <= buildProbe && col("nrank") <= perCell)
      .select("src", "dst")
  }

  /** Beam-search frontiers per round (index 0 = entries, last = final) —
    * exposed for GraphAnnSpec's monotonicity assertion.
    *
    * The walk state is BOUNDED CONTROL-PLANE and runs on the driver:
    * a frontier is ≤ queries × beam rows and a round touches ≤
    * E + B·M node ids — corpus-INDEPENDENT by construction, the q93
    * frozen-model / q46 round-loop class. Each round issues one bounded
    * fetch against the cached distributed relations (adjacency rows and
    * candidate vectors for the frontier's ids) and selects the beam in
    * plain Scala. This is exactly how production graph-ANN serving
    * works — the GRAPH is the distributed/persisted artifact, the walk
    * state never is — and it is the difference between ~10 light jobs
    * and the 77-job broadcast storm the fully-relational unrolled
    * formulation scheduled (measured: 49 s wall for 23 s of executor
    * CPU at sf0.001 — pure per-job/per-broadcast overhead on frontier
    * relations of ≤ 128 rows).
    *
    * Scoring exactness: dot products accumulate in Long (≤ 64·10¹⁴ <
    * 2⁵³), so the Long→Double conversion is exact and cosine here is
    * bit-identical to the distributed `graft_dot`/`cosine` form the
    * final ranking and the DuckDB oracle compute. */
  private[graft] def graphFrontiers(s: SparkSession, dir: String,
                                    entries: Int = GraphEntries,
                                    beam: Int = GraphBeam,
                                    rounds: Int = GraphRounds,
                                    buildProbe: Int = GraphBuildProbe,
                                    perCell: Int = GraphPerCell,
                                    numQueries: Long = NumQueries): Seq[Seq[(Long, Long)]] = {
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
    val adj = graphAdjOf(s, dir, buildProbe, perCell)
    val qv = vecRows(vecs.filter(col("vec_id") < numQueries).collect())
    val f0 = ivfAffinity(s, dir)
      .filter(col("vec_id") < numQueries && col("crank") <= entries &&
        col("vec_id") =!= col("cell"))
      .select("vec_id", "cell").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    walkTrace(vecs, adj, qv, f0, beam, rounds)
  }

  /** Row→(id, (qa, n2)) decoder for the driver walk's bounded fetches. */
  private def vecRows(rows: Array[org.apache.spark.sql.Row]): Map[Long, (Array[Long], Long)] =
    rows.map(r => r.getLong(0) -> ((r.getSeq[Long](1).toArray, r.getLong(2)))).toMap

  /** The driver walk's core over EXPLICIT relations — `vecs(vec_id, qa,
    * n2)` for candidate scoring, `adj(src, dst)` for expansion, `qv` the
    * query vectors, `f0` the entry frontier. Factored out of
    * [[graphFrontiers]] so the persisted graph-ANN serving family
    * (IncrementalGraphAnn) walks its ARTIFACT relations through the
    * exact same arithmetic and tie-breaks the oracle replays. */
  private[graft] def walkTrace(vecs: DataFrame, adj: DataFrame,
                               qv: Map[Long, (Array[Long], Long)],
                               f0: Map[Long, Seq[Long]],
                               beam: Int, rounds: Int): Seq[Seq[(Long, Long)]] = {
    val fetched = scala.collection.mutable.Map[Long, (Array[Long], Long)]()
    val edgesOf = scala.collection.mutable.Map[Long, Seq[Long]]()
    // a round's uncached candidates can reach Q·beam·M ids; folding them
    // into ONE `In` expression would build a ~10⁶-literal plan at the
    // Q-gate ceiling on a cold cache — chunk every fetch at
    // WalkFetchChunk literals so plan size stays bounded regardless of
    // corpus or Q (pure physical batching: the union of chunked fetches
    // is the same row set, so the walk stays bit-identical)
    def fetchVecs(ids: Set[Long]): Unit = {
      val missing = (ids -- fetched.keySet).toSeq
      missing.grouped(WalkFetchChunk).foreach { chunk =>
        vecRows(vecs.filter(col("vec_id").isin(chunk: _*)).collect())
          .foreach { case (k, v) => fetched(k) = v }
      }
    }
    def fetchEdges(ids: Set[Long]): Unit = {
      val missing = (ids -- edgesOf.keySet).toSeq
      missing.grouped(WalkFetchChunk).foreach { chunk =>
        val got = adj.filter(col("src").isin(chunk: _*)).collect()
          .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSeq }
        chunk.foreach(m => edgesOf(m) = got.getOrElse(m, Seq.empty))
      }
    }
    def cosTo(q: Long, v: Long): Double = {
      val (qa, n2q) = qv(q); val (va, n2v) = fetched(v)
      var dot = 0L; var i = 0
      while (i < qa.length) { dot += qa(i) * va(i); i += 1 }
      dot.toDouble / (math.sqrt(n2q.toDouble) * math.sqrt(n2v.toDouble))
    }
    var frontier: Map[Long, Seq[Long]] = f0
    val trace = scala.collection.mutable.ArrayBuffer(
      frontier.toSeq.flatMap { case (q, vs) => vs.map(q -> _) })
    for (_ <- 1 to rounds) {
      fetchEdges(frontier.values.flatten.toSet)
      val grown = frontier.map { case (q, ids) =>
        q -> (ids.toSet ++ ids.flatMap(edgesOf(_)) - q)
      }
      fetchVecs(grown.values.flatten.toSet)
      // candidates absent from the vecs relation DROP, never throw —
      // the batched arm's inner join against vecs does exactly this, so
      // the Q-gate cannot flip crash-vs-silent behavior on a partially
      // corrupt or hand-built artifact
      frontier = grown.map { case (q, cands) =>
        q -> cands.toSeq.filter(fetched.contains).map(v => (v, cosTo(q, v)))
          .sortBy { case (v, c) => (-c, v) }.take(beam).map(_._1)
      }
      trace += frontier.toSeq.flatMap { case (q, vs) => vs.map(q -> _) }
    }
    trace.toSeq.map(_.sorted)
  }

  /** Per-fetch literal cap for the driver walk's `isin` batches: 10k
    * Long literals is a ~100 ms plan (flat `In` over a cached relation)
    * and far below any JVM method/plan-size cliff, while one fetch per
    * round at the Q=256 gate ceiling rarely needs more than a few
    * chunks. Chunking is pure batching — result union is identical. */
  private[graft] val WalkFetchChunk = 10000

  /** The Q-gate of the serve: at or below this many queries the walk
    * runs on the driver, above it through [[graphFrontiersBatched]].
    * The crossover is MEASURED, not guessed, and was RE-MEASURED when
    * the dense M=128 + (16,32,8) operating point was registered — the
    * driver walk's per-Q cost is ∝ B·M, so the old M=32 crossover
    * (Q=1024) no longer held. BASELINE.md's GraphWalkProbe rows ("Walk
    * Q-crossover RE-MEASURED at the dense config", sf1, 20k vectors):
    * driver 9.1/16.4/40.9/205.3 s at Q = 8/256/1024/4096 vs batched
    * 11.5/16.4/20.7/51.3 s — the arms tie at Q=256 and the batched walk
    * wins everywhere above. The arms are bit-identical (GraphAnnSpec),
    * so the gate is purely a physical-plan decision. */
  private[graft] val GraphDriverWalkMaxQ = 256L

  /** Batched relational beam walk — the SAME walk as [[graphFrontiers]]
    * executed as ONE eager Spark job per round for ALL queries (the
    * q46/q89 round-loop discipline: localCheckpoint cuts the unrolled
    * lineage each round, so round r+1's plan never replays round r).
    * Walk state is a DISTRIBUTED (qid, vec_id) relation of ≤ Q·beam
    * rows: per round it grows along out-edges (one equi-join against
    * the tracked adjacency), scores frontier ∪ neighbors by the exact
    * codegen'd integer cosine, and keeps the per-query beam — identical
    * arithmetic, tie-breaks, and therefore frontiers to the driver walk
    * (GraphAnnSpec pins bit-equality). This is the production serve
    * shape for BULK query workloads (Q = 10³–10⁶, e.g. q110's
    * mining pass or a recall sweep): per-round cost is one shuffle of
    * Q·beam·(M+1) candidate rows across the cluster, corpus-independent
    * and driver-free, where the driver walk would serialize Q beam
    * selections through one process. */
  private[graft] def graphFrontiersBatched(s: SparkSession, dir: String,
                                           numQueries: Long = NumQueries,
                                           entries: Int = GraphEntries,
                                           beam: Int = GraphBeam,
                                           rounds: Int = GraphRounds,
                                           buildProbe: Int = GraphBuildProbe,
                                           perCell: Int = GraphPerCell): DataFrame = {
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
    val adj = graphAdjOf(s, dir, buildProbe, perCell)
    val queriesV = vecs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val f0 = ivfAffinity(s, dir)
      .filter(col("vec_id") < numQueries && col("crank") <= entries &&
        col("vec_id") =!= col("cell"))
      .select(col("vec_id").as("qid"), col("cell").as("vec_id"))
    walkBatchedCore(vecs, adj, queriesV, f0, beam, rounds)
  }

  /** The batched walk's core over EXPLICIT relations (the walkTrace
    * counterpart): `vecs(vec_id, qa, n2)` for scoring, `adj(src, dst)`,
    * `queriesV(qid, qq, n2q)`, `f0(qid, vec_id)` the entry frontier.
    * One eager job per round, lineage cut per round. The incremental
    * graph family's window serve routes its bulk-Q workloads through
    * this over ARTIFACT relations. */
  private[graft] def walkBatchedCore(vecs: DataFrame, adj: DataFrame,
                                     queriesV: DataFrame, f0: DataFrame,
                                     beam: Int, rounds: Int): DataFrame = {
    var frontier = f0
    for (_ <- 1 to rounds) {
      val grown = frontier.unionByName(
          frontier.join(adj, frontier("vec_id") === adj("src"))
            .select(col("qid"), col("dst").as("vec_id")))
        .filter(col("qid") =!= col("vec_id"))
        .distinct()
      val beamed = grown
        .join(vecs, "vec_id")
        .join(queriesV, "qid")
        .withColumn("dot", expr("graft_dot(qq, qa)"))
        .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rnk") <= beam)
        .select("qid", "vec_id")
      frontier = beamed.localCheckpoint(true) // ONE job; cut lineage for round r+1
    }
    frontier
  }

  /** The serve's final frontier, Q-gated: the measured-faster driver
    * walk below [[GraphDriverWalkMaxQ]] queries (the catalog's 8-query
    * configs), the batched relational walk above it. Both produce
    * bit-identical frontiers (GraphAnnSpec), so the gate is purely a
    * physical-plan decision — the oracle replay is unchanged either
    * way. */
  private[graft] def graphServedFrontier(s: SparkSession, dir: String,
                                         numQueries: Long = NumQueries,
                                         entries: Int = GraphEntries,
                                         beam: Int = GraphBeam,
                                         rounds: Int = GraphRounds): DataFrame = {
    import s.implicits._
    if (numQueries <= GraphDriverWalkMaxQ)
      graphFrontiers(s, dir, entries, beam, rounds).last.toDF("qid", "vec_id")
    else graphFrontiersBatched(s, dir, numQueries, entries, beam, rounds)
  }

  private def q184(s: SparkSession, dir: String): DataFrame = {
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
    val queriesV = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    // final ranking is the distributed scoring form (graft_dot + the
    // shared cosine expression) over the walk's final frontier, so the
    // emitted cosine column carries the same expression tree as every
    // other ANN serve — and the oracle's replay of the whole walk
    // hash-matches it end to end
    graphServedFrontier(s, dir)
      .join(vecs, "vec_id")
      .join(broadcast(queriesV), "qid")
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= GraphK)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  private[graft] def graphCosSql(a: String, b: String): String =
    s"""CAST(list_sum([$a.qa[i] * $b.qa[i] for i in range(1, len($a.qa) + 1)]) AS DOUBLE)
       |           / (SQRT(CAST($a.n2 AS DOUBLE)) * SQRT(CAST($b.n2 AS DOUBLE)))""".stripMargin

  /** Oracle CTEs for the graph BUILD: expects `$quantSqlCte, $ivfSqlCtes`
    * upstream; yields `gadj(src, dst)`. Shared by every walk config. */
  private def graphAdjSqlCtes: String =
    graphAdjSqlCtesOf("g", GraphBuildProbe, GraphPerCell)

  /** [[graphAdjSqlCtes]] parameterized by name prefix and build density
    * — yields `${p}adj(src, dst)`; q187 lays three densities side by
    * side from the one ranked_cells relation. */
  private def graphAdjSqlCtesOf(p: String, buildProbe: Int, perCell: Int): String =
    s"""${p}probe AS (SELECT vec_id, cell FROM ranked_cells WHERE crank <= $buildProbe),
      |${p}mem AS (SELECT vec_id AS nbr, cell FROM ranked_cells WHERE crank = 1),
      |${p}cand AS (
      |  SELECT p.vec_id, p.cell, m.nbr
      |  FROM ${p}probe p JOIN ${p}mem m ON p.cell = m.cell AND p.vec_id <> m.nbr),
      |${p}adjs AS (
      |  SELECT c.vec_id, c.cell, c.nbr,
      |         ${graphCosSql("x", "y")} AS cos
      |  FROM ${p}cand c JOIN vecs x ON c.vec_id = x.vec_id JOIN vecs y ON c.nbr = y.vec_id),
      |${p}adj AS MATERIALIZED (
      |  SELECT vec_id AS src, nbr AS dst FROM (
      |    SELECT vec_id, nbr, ROW_NUMBER() OVER (PARTITION BY vec_id, cell ORDER BY cos DESC, nbr) AS nrank
      |    FROM ${p}adjs) WHERE nrank <= $perCell)""".stripMargin

  /** Oracle CTEs for ONE walk config: entry frontier + the unrolled beam
    * rounds, names prefixed by `p` — yields `${p}s$rounds(qid, vec_id,
    * cos)`, the final scored frontier. Expects `gadj` + `ranked_cells` +
    * `vecs` upstream. q184/q185 use p = "g" at the production constants;
    * q186 lays three configs side by side. */
  private[graft] def graphWalkSqlCtes(p: String, entries: Int, beam: Int, rounds: Int,
                               adj: String = "gadj",
                               f0Where: String = "TRUE",
                               rankedCells: String = "ranked_cells"): String = {
    val chain = (1 to rounds).map { r =>
      val prev = s"${p}f${r - 1}"
      s"""${p}g$r AS (
        |  SELECT DISTINCT qid, vec_id FROM (
        |    SELECT qid, vec_id FROM $prev
        |    UNION ALL
        |    SELECT f.qid, a.dst AS vec_id FROM $prev f JOIN $adj a ON f.vec_id = a.src)
        |  WHERE qid <> vec_id),
        |${p}s$r AS (
        |  SELECT g.qid, g.vec_id,
        |         ${graphCosSql("q", "y")} AS cos
        |  FROM ${p}g$r g JOIN vecs q ON g.qid = q.vec_id JOIN vecs y ON g.vec_id = y.vec_id),
        |${p}f$r AS MATERIALIZED (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |    FROM ${p}s$r) WHERE rnk <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""${p}f0 AS MATERIALIZED (
      |  SELECT vec_id AS qid, cell AS vec_id FROM $rankedCells
      |  WHERE vec_id < $NumQueries AND crank <= $entries AND vec_id <> cell
      |    AND $f0Where),
      |$chain""".stripMargin
  }

  /** The production-config CTE stack (q184/q185's oracle). */
  private def graphSqlCtes: String =
    graphAdjSqlCtes + ",\n" +
      graphWalkSqlCtes("g", GraphEntries, GraphBeam, GraphRounds)

  private val q184Sql =
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |$graphSqlCtes
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rnk AS INT) AS rank FROM (
      |  SELECT qid, vec_id, cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      |  FROM gs$GraphRounds)
      |WHERE rnk <= $GraphK
      |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q185 — GRAPH-ANN RECALL@k vs the exact arm (the q86 contract on the
  // graph family): exact brute-force top-GraphK per query vs q184's
  // served set, hits and recall per query. Both arms are deterministic
  // relational pipelines, so — unlike production HNSW, whose
  // insert-order graph defies replay — the recall row itself is
  // oracle-checkable end to end.
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val vecs = corpusVecs(s, dir).select("vec_id", "qa", "n2")
    val queriesV = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val exact = vecs.crossJoin(broadcast(queriesV))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= GraphK)
      .select("qid", "vec_id")
    val served = q184(s, dir).select(col("qid"), col("vec_id"), lit(1).as("hit"))
    exact.join(served, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
      .withColumn("recall", round(col("hits") / lit(GraphK.toDouble), 6))
      .orderBy("qid")
      .select("qid", "hits", "recall")
  }

  private val q185Sql =
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |$graphSqlCtes,
      |gdots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |gexact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT d.qid, d.vec_id,
      |           ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
      |             CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) DESC,
      |             d.vec_id) AS rank
      |    FROM gdots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id)
      |  WHERE rank <= $GraphK),
      |gserved AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      |    FROM gs$GraphRounds)
      |  WHERE rnk <= $GraphK)
      |SELECT e.qid AS qid,
      |       CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      |       ROUND(CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $GraphK.0, 6) AS recall
      |FROM gexact e LEFT JOIN gserved s ON e.qid = s.qid AND e.vec_id = s.vec_id
      |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  // ---------------------------------------------------------------------
  // q186 — GRAPH-ANN TUNING CURVE (the q122 nprobe-sweep discipline on
  // the walk's knobs): recall@k of the SAME graph under three
  // entry/beam/round budgets — the recall/latency dial a deployment
  // actually turns (the round-18 sf1 sweep on the then-M=32 graph is
  // how the registered (16,32,8) point was picked; keeping the sparser
  // budgets as arms keeps that curve measured every round). ONE
  // definition of the walk serves all arms (graphFrontiers
  // parameterized; the adjacency builds once behind its tracked cache
  // and every config's oracle replay shares the gadj CTEs), so the
  // sweep cannot drift from the production q184 serve — whose config is
  // the LAST row.
  private val GraphSweep = Seq((4, 8, 3), (8, 16, 6), (GraphEntries, GraphBeam, GraphRounds))

  /** Run independent driver walks CONCURRENTLY (the guide-§2.6 overlap
    * of independent jobs): a sweep arm is a pure function of the shared
    * cached substrate, and its wall is dominated by ~2·rounds bounded
    * fetch jobs of ≤ a few ms of executor work each — serialized arms
    * pay that job latency 3× over, interleaved arms back-fill each
    * other's idle cores, so wall ≈ max(arm) instead of Σ(arm). The
    * shared caches (roll-up, affinity, scored adjacency) are
    * materialized on the CALLING thread first, so Caches.track
    * registers them on the thread whose consumer releases them — the
    * pool threads' track() calls then see an already-cached plan and
    * register nothing (Caches' thread-local contract holds). Results
    * return in INPUT order: thread scheduling cannot reorder arms, and
    * each arm's walk is bit-identical to its serial run (walk state is
    * thread-local; the fetches read immutable cached relations). */
  private def parallelWalks[A](s: SparkSession, dir: String,
                               arms: Seq[() => A]): Seq[A] = {
    graphAdj(s, dir).count() // materialize the shared substrate caches here
    val pool = java.util.concurrent.Executors.newFixedThreadPool(arms.size)
    try arms.map(a => pool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = a()
      })).map(_.get())
    finally pool.shutdown()
  }

  private def q186(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
    val queriesV = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val exact = graft.Caches.track(vecs.crossJoin(broadcast(queriesV))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= GraphK)
      .select("qid", "vec_id"))
      // tracked cache: the exact arm compares against every sweep config
    val walked = parallelWalks(s, dir, GraphSweep.map { case (e, b, r) => () =>
      graphFrontiers(s, dir, e, b, r).last })
    GraphSweep.zip(walked).map { case ((e, b, r), lastFrontier) =>
      val served = lastFrontier.toDF("qid", "vec_id")
        .join(vecs, "vec_id")
        .join(broadcast(queriesV), "qid")
        .withColumn("dot", expr("graft_dot(qq, qa)"))
        .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rnk") <= GraphK)
        .select("qid", "vec_id")
      exact.join(served, Seq("qid", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(e).as("entries"), lit(b).as("beam"), lit(r).as("rounds"),
          col("n_hits"),
          round(col("n_hits").cast("double") / lit((NumQueries * GraphK).toDouble), 6)
            .as("recall"))
    }.reduce(_ unionByName _).orderBy("entries", "beam", "rounds")
  }

  private val q186Sql = {
    val walks = GraphSweep.zip(Seq("wa", "wb", "wc")).map { case ((e, b, r), p) =>
      graphWalkSqlCtes(p, e, b, r)
    }.mkString(",\n")
    val arms = GraphSweep.zip(Seq("wa", "wb", "wc")).map { case ((e, b, r), p) =>
      s"""SELECT CAST($e AS INT) AS entries, CAST($b AS INT) AS beam, CAST($r AS INT) AS rounds,
        |       n_hits, ROUND(CAST(n_hits AS DOUBLE) / ${NumQueries * GraphK}.0, 6) AS recall
        |FROM ${p}hits""".stripMargin
    }.mkString("\n      |UNION ALL\n      |")
    // each walk's served set and hit count are single-reference CTEs —
    // a scalar-subquery formulation makes DuckDB re-inline (and thus
    // re-run) the whole walk chain per reference
    val servedCtes = GraphSweep.zip(Seq("wa", "wb", "wc")).map { case ((_, _, r), p) =>
      s"""${p}served AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |    FROM ${p}s$r)
        |  WHERE rnk <= $GraphK),
        |${p}hits AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM gexact x JOIN ${p}served s ON s.qid = x.qid AND s.vec_id = x.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |$graphAdjSqlCtes,
      |$walks,
      |gdots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |gexact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT d.qid, d.vec_id,
      |           ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
      |             CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) DESC,
      |             d.vec_id) AS rank
      |    FROM gdots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id)
      |  WHERE rank <= $GraphK),
      |$servedCtes
      |$arms
      |ORDER BY entries, beam, rounds""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q187 — GRAPH-ANN DENSIFICATION CURVE: recall@k of the PRODUCTION
  // walk config over graphs of increasing edge density — the lever
  // q186's walk-budget sweep PLATEAUS on (measured at sf1 on the M=32
  // graph: entries/beam/rounds dialed 2× still read 0.54, because the
  // sparse graph simply lacks the edges to route across sf1's 328-cell
  // coarse layer; density 4× lifted it to 0.875, and with the wide walk
  // to 0.917 — the measurement that made M=128 the registered config).
  // Three build densities from the ONE shared ivfAffinity pass: the
  // round-18 sparse point (8×4, M=32), the intermediate (8×8, M=64),
  // and the PRODUCTION density (16×8, M=128) — the curve climbs to the
  // registered point, so the cost of the adopted density is re-priced
  // against its cheaper alternatives every round. Build cost is linear
  // in N·probe·perCell on every arm — the q122/q186 measurement
  // discipline: a deployment reads this curve, not a guess, when
  // sizing its graph.
  private val GraphDensitySweep = Seq(
    (GraphBuildProbe / 2, GraphPerCell / 2), // M=32, the round-18 sparse point
    (GraphBuildProbe / 2, GraphPerCell),     // M=64 intermediate
    (GraphBuildProbe, GraphPerCell))         // production M=128

  private def q187(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
    val queriesV = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val exact = graft.Caches.track(vecs.crossJoin(broadcast(queriesV))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= GraphK)
      .select("qid", "vec_id"))
      // tracked cache: the exact arm compares against every density arm
    val walked = parallelWalks(s, dir, GraphDensitySweep.map { case (bp, pc) => () =>
      graphFrontiers(s, dir, GraphEntries, GraphBeam, GraphRounds, bp, pc).last })
    GraphDensitySweep.zip(walked).map { case ((bp, pc), lastFrontier) =>
      val served = lastFrontier.toDF("qid", "vec_id")
        .join(vecs, "vec_id")
        .join(broadcast(queriesV), "qid")
        .withColumn("dot", expr("graft_dot(qq, qa)"))
        .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rnk") <= GraphK)
        .select("qid", "vec_id")
      exact.join(served, Seq("qid", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(bp).as("build_probe"), lit(pc).as("per_cell"),
          lit(bp * pc).as("m"), col("n_hits"),
          round(col("n_hits").cast("double") / lit((NumQueries * GraphK).toDouble), 6)
            .as("recall"))
    }.reduce(_ unionByName _).orderBy("build_probe", "per_cell")
  }

  private val q187Sql = {
    val prefixes = Seq("da", "db", "dc")
    val builds = GraphDensitySweep.zip(prefixes).map { case ((bp, pc), p) =>
      graphAdjSqlCtesOf(p, bp, pc) + ",\n" +
        graphWalkSqlCtes(s"${p}w", GraphEntries, GraphBeam, GraphRounds, adj = s"${p}adj")
    }.mkString(",\n")
    val servedCtes = prefixes.map { p =>
      s"""${p}served AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |    FROM ${p}ws$GraphRounds)
        |  WHERE rnk <= $GraphK),
        |${p}hits AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM gexact x JOIN ${p}served s ON s.qid = x.qid AND s.vec_id = x.vec_id)""".stripMargin
    }.mkString(",\n")
    val arms = GraphDensitySweep.zip(prefixes).map { case ((bp, pc), p) =>
      s"""SELECT CAST($bp AS INT) AS build_probe, CAST($pc AS INT) AS per_cell,
        |       CAST(${bp * pc} AS INT) AS m, n_hits,
        |       ROUND(CAST(n_hits AS DOUBLE) / ${NumQueries * GraphK}.0, 6) AS recall
        |FROM ${p}hits""".stripMargin
    }.mkString("\n      |UNION ALL\n      |")
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |$builds,
      |gdots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |gexact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT d.qid, d.vec_id,
      |           ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
      |             CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) DESC,
      |             d.vec_id) AS rank
      |    FROM gdots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id)
      |  WHERE rank <= $GraphK),
      |$servedCtes
      |$arms
      |ORDER BY build_probe, per_cell""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q78/q79 — the PERSISTED PQ index: train once, search many. q63/q64/
  // q71 each retrain the codebook inside the query — correct, but not
  // how a real index is served: a 100 TB store trains its codebook and
  // compresses the corpus ONCE (the expensive offline job), then every
  // query reads only the 8-nibble codes and the K·M codebook from
  // storage. q78 is that offline build: one Lloyd step, corpus codes,
  // both persisted as a parquet artifact (codebook + codes + completion
  // marker, written marker-last so a half-built index is rebuilt, never
  // served). q79 is the online path: codes and codebook come off the
  // artifact — NO training, no touch of the raw corpus vectors — only
  // the 8 query vectors are read uncompressed (that asymmetry is the
  // whole point of ADC search) and scored against the stored codes via
  // broadcast distance tables. Same ranking contract as q64, so q79
  // shares its oracle — the q57/q62 pairing pattern for storage paths.
  // If the artifact is absent (driver runs entries in any order), q79
  // builds it first; its own plan still reads only the artifact.
  // The artifact lives on whatever FileSystem the configured root maps
  // to — HDFS, S3A, or local — through the Hadoop FileSystem API, never
  // java.io.File: at 100 TB the index is cluster storage, and the
  // marker-last / atomic-publish guarantees must hold THERE, not just on
  // a local disk. Root resolution: env (the deployment knob, mirroring
  // SPARK_GRAFT_SF_DIR) → system property (test override) → local tmp.
  private def pqIndexRoot: String =
    sys.env.get("SPARK_GRAFT_INDEX_DIR")
      .orElse(sys.props.get("graft.index.dir"))
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft_pq_index")

  private def md5key(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** Cheap source fingerprint: names, lengths, and mtimes of the
    * embeddings table's files. Folded into the index key, so a corpus
    * regenerated under the SAME path gets a fresh index instead of
    * silently serving codes built from the old data — the staleness
    * hazard a path-only key carries. FS metadata only; never reads rows. */
  private[graft] def pqDataFingerprint(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq else Seq(fs.getFileStatus(p))
    val sig = stats.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    md5key(s"$dir#$sig")
  }

  private[graft] def pqIndexPath(s: SparkSession, dir: String): String =
    s"$pqIndexRoot/${pqDataFingerprint(s, dir)}"

  /** Idempotent offline build: codebook (one Lloyd step, the family's
    * shared training) + per-vector codes → parquet. Publication is
    * crash- and race-safe twice over: the artifact is assembled in a
    * private temp directory and atomically renamed into place (two
    * concurrent drivers cannot interleave writes — the loser discards
    * its temp), and the `_COMPLETE` marker is still written LAST inside
    * the temp, so even on stores where rename is a copy (S3 without a
    * committer) a half-published index is detected and rebuilt, never
    * served. */
  /** Shared atomic-publish machinery for every index artifact (q78's
    * full index, q87's generational one): assemble under a dot-prefixed
    * private temp, write the `_COMPLETE` marker LAST inside the temp,
    * then atomically rename into place. Hadoop rename moves src INTO an
    * existing destination directory rather than failing, so a
    * half-built squatter (exists, no marker — a crashed pre-temp-era
    * build or manual damage) is evicted first, never renamed into. If a
    * concurrent build wins the race between these steps, its artifact
    * is complete and equivalent (same fingerprint ⇒ same data ⇒ same
    * deterministic training): keep theirs, drop ours; a stray tmp
    * renamed inside is dot-prefixed and invisible to parquet listings.
    * No-op if the destination already carries its marker. */
  private def publishArtifact(fs: org.apache.hadoop.fs.FileSystem,
                              path: org.apache.hadoop.fs.Path)
                             (write: org.apache.hadoop.fs.Path => Unit): Unit = {
    def complete(p: org.apache.hadoop.fs.Path) =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_COMPLETE"))
    if (complete(path)) return
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    write(tmp)
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_COMPLETE"), true).close() // marker LAST
    fs.mkdirs(path.getParent)
    if (fs.exists(path) && !complete(path)) fs.delete(path, true)
    if (!fs.exists(path)) {
      if (!fs.rename(tmp, path) && !complete(path))
        throw new IllegalStateException(s"could not publish artifact at $path")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (!complete(path))
      throw new IllegalStateException(s"artifact at $path incomplete after publish")
  }

  private[graft] def buildPqIndex(s: SparkSession, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(pqIndexPath(s, dir))
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    publishArtifact(fs, path) { tmp =>
      val quantS = pqQuant(s, dir)
      val cents2 = pqUpdate(quantS, pqAssign(quantS, pqSeeds(quantS)))
      val codes = pqAssign(quantS, cents2).select("vec_id", "sub", "cid")
      cents2.write.mode("overwrite").parquet(s"$tmp/codebook")
      codes.write.mode("overwrite").parquet(s"$tmp/codes")
    }
  }

  private def q78(s: SparkSession, dir: String): DataFrame = {
    buildPqIndex(s, dir)
    // the build's checkable artifact view: every vector's stored code
    s.read.parquet(s"${pqIndexPath(s, dir)}/codes")
      .groupBy("vec_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(sub, cid))), x -> x.cid), '-')")
        .as("code"))
      .orderBy("vec_id")
  }

  private val q78Sql =
    s"""WITH $pqSqlCtes
      |SELECT vec_id, string_agg(cid::VARCHAR, '-' ORDER BY sub) AS code
      |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** The ADC serving plan shared by q79 and q87: only the query vectors
    * are read raw (the serving asymmetry) — the corpus arrives as
    * stored 8-nibble codes, scored against broadcast per-query distance
    * tables built from the stored codebook. */
  private[graft] def serveAdc(s: SparkSession, dir: String,
                              codebook: DataFrame, codes: DataFrame): DataFrame = {
    val qquant = pqQuantRows(Tables.embeddings(s, dir)
        .filter(col("vec_id") < NumQueries))
      .withColumnRenamed("n2v", "n2q")
    val dtab = qquant.join(broadcast(codebook), Seq("sub"))
      .withColumn("dot", expr("graft_dot(qa, ca)"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        (col("n2q") + col("n2c") - lit(2L) * col("dot")).as("d"))
    codes.join(broadcast(dtab), Seq("sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("qid", "vec_id", "adist", "rank")
      .orderBy("qid", "rank")
  }

  private def q79(s: SparkSession, dir: String): DataFrame = {
    buildPqIndex(s, dir)
    val path = pqIndexPath(s, dir)
    serveAdc(s, dir,
      s.read.parquet(s"$path/codebook"),  // K·M rows
      s.read.parquet(s"$path/codes"))     // the 8-nibble corpus
  }

  // ---------------------------------------------------------------------
  // q87 — INCREMENTAL PQ INDEX INGEST: q84's intake contract applied to
  // the vector store. A 100 TB embedding index is not retrained when
  // today's shard arrives — the codebook is FROZEN at its last training
  // generation and the new vectors are ENCODED with it (Faiss add()
  // after train(), Jégou et al. §V.A), because retraining would both
  // rescan yesterday's corpus and silently shift every stored code's
  // meaning. The operator: gen0 holds the codebook trained on
  // yesterday's corpus plus yesterday's codes (one offline build);
  // ingest encodes the incoming batch against gen0's STORED codebook —
  // the batch scan is the only raw-vector read, yesterday's vectors are
  // never touched — and publishes the codes as gen1 (marker-last,
  // atomic, idempotent: a replayed batch is a no-op because gen1's
  // marker already exists). Serving is q64's exact ADC contract over
  // codes(gen0) ∪ codes(gen1) with gen0's codebook. Each generation is
  // its own atomically-published directory, so a crash between ingest
  // and serve leaves gen0 fully servable and gen1 invisible — the
  // generational layout every production index store uses. The batch
  // is the fixture's "today": vectors with vec_id ≥ PqK and
  // vec_id % 10 = 7 (disjoint from the seed ids by construction, so
  // gen0's training is seed-complete). The oracle replays
  // train-on-yesterday / encode-everything relationally via
  // pqSqlCtesFor and shares q64's ADC stack.
  private val IncBatchSql = s"vec_id >= $PqK AND vec_id % 10 = 7"

  private[graft] def incIndexRoot(s: SparkSession, dir: String): String =
    s"$pqIndexRoot/${pqDataFingerprint(s, dir)}-inc"

  /** gen0: codebook trained on yesterday's corpus (everything outside
    * the batch) + yesterday's codes. */
  private[graft] def buildIncBase(s: SparkSession, dir: String): String = {
    val gen0 = new org.apache.hadoop.fs.Path(s"${incIndexRoot(s, dir)}/gen0")
    val fs = gen0.getFileSystem(s.sparkContext.hadoopConfiguration)
    publishArtifact(fs, gen0) { tmp =>
      val train = pqQuant(s, dir).filter(!expr(IncBatchSql))
      val cents = pqUpdate(train, pqAssign(train, pqSeeds(train)))
      cents.write.mode("overwrite").parquet(s"$tmp/codebook")
      pqAssign(train, cents).select("vec_id", "sub", "cid")
        .write.mode("overwrite").parquet(s"$tmp/codes")
    }
    gen0.toString
  }

  /** gen1: the incoming batch encoded with gen0's STORED codebook — no
    * retraining, no scan of yesterday's vectors (the embeddings read
    * carries the batch predicate down to the scan). Idempotent: replay
    * sees gen1's marker and returns without a job. */
  private[graft] def ingestIncBatch(s: SparkSession, dir: String): String = {
    val gen0 = buildIncBase(s, dir)
    val gen1 = new org.apache.hadoop.fs.Path(s"${incIndexRoot(s, dir)}/gen1")
    val fs = gen1.getFileSystem(s.sparkContext.hadoopConfiguration)
    publishArtifact(fs, gen1) { tmp =>
      val codebook = s.read.parquet(s"$gen0/codebook")
      val batch = pqQuantRows(Tables.embeddings(s, dir).filter(expr(IncBatchSql)))
      pqAssign(batch, codebook).select("vec_id", "sub", "cid")
        .write.mode("overwrite").parquet(s"$tmp/codes")
    }
    gen1.toString
  }

  private def q87(s: SparkSession, dir: String): DataFrame = {
    val gen1 = ingestIncBatch(s, dir)
    val gen0 = s"${incIndexRoot(s, dir)}/gen0"
    serveAdc(s, dir,
      s.read.parquet(s"$gen0/codebook"),
      s.read.parquet(s"$gen0/codes").union(s.read.parquet(s"$gen1/codes")))
  }

  private val q87Sql = s"WITH ${pqSqlCtesFor(s"NOT ($IncBatchSql)")},\n$adcSqlStack"

  // ---------------------------------------------------------------------
  // q124 — PQ GENERATION COMPACTION + RETRAIN GATE: the lifecycle close
  // of the q87 chain. A daily ingest cadence yields an unbounded
  // generation list (serving unions codes(gen0) ∪ codes(gen1) ∪ …) and
  // a slowly staling codebook; this operator (a) COMPACTS the chain —
  // one marker-last artifact holding the live codebook plus every
  // generation's codes with their provenance (`gen` column), the
  // q84-ingest fold pattern applied to the vector store: each compaction
  // folds state into one new artifact, serving reads ONE directory pair
  // again — and (b) evaluates the RETRAIN GATE: q121's health
  // definitions computed over the compacted artifact's STORED codes
  // (never re-encoded — the gate audits what serving actually reads),
  // rolled into four committed criteria in the q123 gate shape:
  //   * codeword_util_min_ppm  — worst subspace's live-codeword share
  //     (dead codes waste the code budget): retrain if ANY subspace
  //     falls under the floor;
  //   * top_code_share_max_ppm — worst subspace's largest-codeword
  //     population share (a collapsed subspace stops discriminating);
  //   * distortion_ppm — corpus reconstruction error relative to signal
  //     energy, (10⁶·Σqerr) div Σ‖v_s‖² — scale-free, so the threshold
  //     survives re-quantization;
  //   * stale_code_ppm — share of the corpus encoded AFTER the codebook
  //     froze (the `gen` > 0 rows): the drift proxy that forces a
  //     retrain even while geometric health still holds.
  // A CI step diffs this relation and triggers the offline re-train
  // (q78's build) when any `pass` is false — state can no longer
  // degrade unboundedly across windows (the reference's watermark
  // contract, nikon_ETL.py:425-499, applied to the index store).
  //
  // The two-batch chain lives under its own fingerprinted root (-inc2):
  // gen0 trains on the corpus minus BOTH batches, gen1/gen2 encode
  // their day's batch with gen0's FROZEN codebook (no retrain, no
  // rescan of older vectors), compaction folds the three. The oracle
  // replays train-on-rest/encode-everything relationally (the stored
  // argmin = a2 under the restricted training set) and the gate's
  // integer arithmetic exactly; IncrementalIndexSpec pins the storage
  // contracts (serve-identical before/after compaction, idempotent
  // re-compaction, provenance partition).
  //
  // Scale: compaction is a metadata-plus-codes copy (8 nibbles/vector —
  // the only corpus-sized relation that moves); the health pass is one
  // narrow O(N·M) map (stored codes ⋈ broadcast codebook ⋈ subvectors)
  // with (M·K)-sized rollups; the gate is 4 rows.
  private val IncBatch2Sql = s"vec_id >= $PqK AND vec_id % 10 = 3"
  private val GateUtilMinPpm  = 500000L // ≥ half of each subspace's codewords live
  private val GateShareMaxPpm = 500000L // no codeword owns > half its subspace
  private val GateDistMaxPpm  = 500000L // reconstruction error ≤ half the signal energy
  private val GateStaleMaxPpm = 300000L // retrain once >30% of codes postdate training

  private[graft] def inc2IndexRoot(s: SparkSession, dir: String): String =
    s"$pqIndexRoot/${pqDataFingerprint(s, dir)}-inc2"

  /** The two-batch generation chain: gen0 (codebook trained on the
    * corpus minus both batches + its codes), then gen1/gen2 encoding
    * their batch with gen0's stored codebook. Returns the chain's
    * generation paths, building whatever is missing (idempotent,
    * marker-last per generation). */
  private[graft] def buildInc2Chain(s: SparkSession, dir: String): Seq[String] = {
    val root = inc2IndexRoot(s, dir)
    val trainWhere = s"NOT (($IncBatchSql) OR ($IncBatch2Sql))"
    val gen0 = new org.apache.hadoop.fs.Path(s"$root/gen0")
    val fs = gen0.getFileSystem(s.sparkContext.hadoopConfiguration)
    publishArtifact(fs, gen0) { tmp =>
      val train = pqQuant(s, dir).filter(expr(trainWhere))
      val cents = pqUpdate(train, pqAssign(train, pqSeeds(train)))
      cents.write.mode("overwrite").parquet(s"$tmp/codebook")
      pqAssign(train, cents).select("vec_id", "sub", "cid")
        .write.mode("overwrite").parquet(s"$tmp/codes")
    }
    Seq(IncBatchSql, IncBatch2Sql).zipWithIndex.foreach { case (batch, i) =>
      val gen = new org.apache.hadoop.fs.Path(s"$root/gen${i + 1}")
      publishArtifact(fs, gen) { tmp =>
        val codebook = s.read.parquet(s"$gen0/codebook")
        val rows = pqQuantRows(Tables.embeddings(s, dir).filter(expr(batch)))
        pqAssign(rows, codebook).select("vec_id", "sub", "cid")
          .write.mode("overwrite").parquet(s"$tmp/codes")
      }
    }
    (0 to 2).map(i => s"$root/gen$i")
  }

  /** Anti-join served codes against every tombstone generation's id
    * list — the serve-time takedown mask. Broadcast: a removal request
    * is tiny next to the corpus, so the mask costs one hash probe per
    * code row and nothing corpus-sized moves. */
  private def dropTombstoned(s: SparkSession, codes: DataFrame,
                             tombPaths: Seq[String]): DataFrame =
    tombPaths.foldLeft(codes) { (c, t) =>
      c.join(broadcast(s.read.parquet(s"$t/ids")), Seq("vec_id"), "left_anti")
    }

  /** Fold a generation chain ∪ tombstones into ONE artifact (codebook +
    * surviving codes with `gen` provenance): the q84 compaction pattern
    * — after a compaction the chain is one directory pair again, and
    * the next ingest starts a new (short) chain on top of it.
    * Tombstoned codes are PHYSICALLY dropped (the q134 move, vector
    * edition); with no tombstones this is exactly q124's compaction.
    * Idempotent and marker-last like every other artifact. */
  private[graft] def compactChain(s: SparkSession, gens: Seq[String],
                                  tombPaths: Seq[String], outPath: String): String = {
    val out = new org.apache.hadoop.fs.Path(outPath)
    val fs = out.getFileSystem(s.sparkContext.hadoopConfiguration)
    publishArtifact(fs, out) { tmp =>
      // rewrite, don't move: the source generations stay intact until
      // the compact artifact carries its marker (crash ⇒ still servable)
      s.read.parquet(s"${gens.head}/codebook")
        .write.mode("overwrite").parquet(s"$tmp/codebook")
      dropTombstoned(s, gens.zipWithIndex.map { case (g, i) =>
        s.read.parquet(s"$g/codes").withColumn("gen", lit(i))
      }.reduce(_ unionByName _), tombPaths)
        .write.mode("overwrite").parquet(s"$tmp/codes")
    }
    out.toString
  }

  private[graft] def compactInc2(s: SparkSession, dir: String): String =
    compactChain(s, buildInc2Chain(s, dir), Nil, s"${inc2IndexRoot(s, dir)}/compact")

  private def q124(s: SparkSession, dir: String): DataFrame = {
    val compact = compactInc2(s, dir)
    val codebook = s.read.parquet(s"$compact/codebook")
    val codes = s.read.parquet(s"$compact/codes")
    // health of the LIVE codebook over the STORED codes — one narrow
    // O(N·M) pass: stored code ⋈ broadcast codebook ⋈ subvector rows
    val werr = graft.Caches.track(codes
      .join(broadcast(codebook), Seq("sub", "cid"))
      .join(pqQuant(s, dir), Seq("vec_id", "sub"))
      .withColumn("qerr", col("n2v") + col("n2c") - lit(2L) * expr("graft_dot(qa, ca)"))
      .select("vec_id", "sub", "cid", "gen", "n2v", "qerr"))
    val health = pqHealth(werr)
    val geo = health.agg(
      min(col("util_ppm")).as("util_min"),
      max(col("top_code_share_ppm")).as("share_max"))
    val dist = werr.agg(
      expr("(1000000 * sum(qerr)) div sum(n2v)").as("dist_ppm"))
    val stale = codes.select("vec_id", "gen").distinct()
      .agg(expr("(1000000 * sum(CASE WHEN gen > 0 THEN 1 ELSE 0 END)) div count(1)")
        .as("stale_ppm"))
    val a = graft.Caches.track(geo.crossJoin(dist).crossJoin(stale))
    def crit(name: String, obs: String, thr: Long, atLeast: Boolean) =
      a.select(lit(name).as("criterion"), col(obs).as("observed"),
        lit(thr).as("threshold"),
        (if (atLeast) col(obs) >= thr else col(obs) <= thr).as("pass"))
    crit("codeword_util_min_ppm", "util_min", GateUtilMinPpm, atLeast = true)
      .unionByName(crit("distortion_ppm", "dist_ppm", GateDistMaxPpm, atLeast = false))
      .unionByName(crit("stale_code_ppm", "stale_ppm", GateStaleMaxPpm, atLeast = false))
      .unionByName(crit("top_code_share_max_ppm", "share_max", GateShareMaxPpm, atLeast = false))
      .orderBy("criterion")
  }

  private val q124Sql = {
    val trainWhere = s"NOT (($IncBatchSql) OR ($IncBatch2Sql))"
    s"""WITH ${pqSqlCtesFor(trainWhere)},
      |n2v AS (SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2v FROM quants GROUP BY vec_id, sub),
      |werr AS (
      |  SELECT a.vec_id, a.sub, a.cid, n.n2v, n.n2v + a.score AS qerr
      |  FROM a2 a JOIN n2v n ON a.vec_id = n.vec_id AND a.sub = n.sub),
      |pc AS (SELECT sub, cid, COUNT(*) AS cnt FROM werr GROUP BY sub, cid),
      |cs AS (SELECT sub, COUNT(*) AS codes_used, MAX(cnt) AS max_code FROM pc GROUP BY sub),
      |sv AS (SELECT sub, COUNT(*) AS n_vectors FROM werr GROUP BY sub),
      |health AS (
      |  SELECT sv.sub,
      |         (1000000 * cs.codes_used) // $PqK AS util_ppm,
      |         (1000000 * cs.max_code) // sv.n_vectors AS share_ppm
      |  FROM sv JOIN cs ON sv.sub = cs.sub),
      |geo AS (SELECT MIN(util_ppm) AS util_min, MAX(share_ppm) AS share_max FROM health),
      |dist AS (
      |  SELECT (1000000 * CAST(SUM(qerr) AS BIGINT)) // CAST(SUM(n2v) AS BIGINT) AS dist_ppm
      |  FROM werr),
      |stale AS (
      |  SELECT (1000000 * CAST(SUM(CASE WHEN ($IncBatchSql) OR ($IncBatch2Sql)
      |                          THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS stale_ppm
      |  FROM embeddings)
      |SELECT criterion, observed, threshold, pass FROM (
      |  SELECT 'codeword_util_min_ppm' AS criterion, g.util_min AS observed,
      |         $GateUtilMinPpm AS threshold, g.util_min >= $GateUtilMinPpm AS pass
      |  FROM geo g
      |  UNION ALL
      |  SELECT 'distortion_ppm', d.dist_ppm, $GateDistMaxPpm, d.dist_ppm <= $GateDistMaxPpm FROM dist d
      |  UNION ALL
      |  SELECT 'stale_code_ppm', s.stale_ppm, $GateStaleMaxPpm, s.stale_ppm <= $GateStaleMaxPpm FROM stale s
      |  UNION ALL
      |  SELECT 'top_code_share_max_ppm', g.share_max, $GateShareMaxPpm, g.share_max <= $GateShareMaxPpm FROM geo g)
      |ORDER BY criterion""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q136/q137 — PQ-INDEX TAKEDOWN + TAKEDOWN COMPACTION: the removal
  // contract q133/q134 gave the lexical index, applied to the vector
  // store — the gap that made a fused serving stack (q135) honor a
  // takedown on one arm and leak it on the other. A removal request
  // arrives as a bare id list; q136 publishes it as a TOMBSTONE
  // generation (`ids/` = request ∩ the chain's own code roster — the
  // raw corpus/embeddings are never read, mirroring q133's
  // roster-priced accounting) and serving anti-joins the broadcast
  // tombstone ids out of the served codes. Unlike BM25 there is NO
  // stats relation to re-price: an ADC distance is per-vector (stored
  // code × broadcast query table), so dropping a vector's codes removes
  // it EXACTLY — survivors' distances and ranks are untouched, which
  // the never-saw-them spec equality pins (IncrementalIndexSpec) and
  // the oracle proves by replaying the q87 train/encode stack with the
  // removed ids excluded from serving only. The codebook is FROZEN:
  // removal never retrains (that is q124's gate decision — its
  // stale-code criterion, not the takedown, owns codebook lifecycle).
  // q137 is the lifecycle close: compaction folds generations ∪
  // tombstones into ONE artifact with the tombstoned codes PHYSICALLY
  // dropped (the shared compactChain core — q124's compaction with a
  // non-empty tombstone list), and serving the compacted artifact must
  // be indistinguishable from the logical union (same oracle as q136).
  //
  // Scale shape: the tombstone build is one broadcast semi-join over
  // the chain's roster (fixed-width id rows); serving adds one
  // broadcast anti-join probe per code row; compaction is the existing
  // codes copy minus masked rows. Nothing corpus-sized shuffles beyond
  // what q87/q124 already move.
  private val PqTakedownWhere = "vec_id % 7 = 3"

  /** Publish a TAKEDOWN generation for the vector index: `ids/` = the
    * request intersected with the chain's own code roster (unknown ids
    * are dropped — the q133 contract — so the artifact records exactly
    * what it removes). Marker-last/idempotent like every generation. */
  private[graft] def pqTakedown(s: SparkSession, ids: DataFrame,
                                genPaths: Seq[String], outPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    publishArtifact(fs, p) { tmp =>
      genPaths.map(g => s.read.parquet(s"$g/codes").select("vec_id"))
        .reduce(_ unionByName _).distinct()
        .join(broadcast(ids), "vec_id")
        .write.mode("overwrite").parquet(s"$tmp/ids")
    }
    outPath
  }

  /** Encode raw vectors with a STORED codebook — ingest's per-vector
    * kernel, exposed so the takedown spec can build the never-saw-them
    * ground truth (encode only the survivors, same frozen codebook). */
  private[graft] def encodeWith(emb: DataFrame, codebook: DataFrame): DataFrame =
    pqAssign(pqQuantRows(emb), codebook).select("vec_id", "sub", "cid")

  /** Removal-request ids, derived from the chain's own roster by id
    * arithmetic (every 7th indexed vector "opted out" — the q133
    * fixture contract); the request is a bare id list. */
  private def pqTakedownIds(s: SparkSession, genPaths: Seq[String]): DataFrame =
    genPaths.map(g => s.read.parquet(s"$g/codes").select("vec_id"))
      .reduce(_ unionByName _).distinct()
      .filter(expr(PqTakedownWhere))

  /** The FULL-index (q78/q79 artifact) takedown twin for the served
    * hybrid fusion (Corpus q138): the shared removal request
    * ({id % 7 = 3} — LexIndex.takedownIds' arithmetic, so both arms
    * mask the SAME list) priced against the chain's own code roster. */
  private[graft] def fullPqTombstone(s: SparkSession, dir: String): String = {
    buildPqIndex(s, dir)
    val path = pqIndexPath(s, dir)
    pqTakedown(s, pqTakedownIds(s, Seq(path)), Seq(path), s"$path-tomb")
  }

  /** The q87 chain's generation paths (building whatever is missing)
    * plus its takedown tombstone — the shared setup of q136/q137. */
  private def incChainWithTomb(s: SparkSession, dir: String): (Seq[String], String) = {
    val gen1 = ingestIncBatch(s, dir)
    val gen0 = s"${incIndexRoot(s, dir)}/gen0"
    val t = pqTakedown(s, pqTakedownIds(s, Seq(gen0, gen1)), Seq(gen0, gen1),
      s"${incIndexRoot(s, dir)}/tomb")
    (Seq(gen0, gen1), t)
  }

  private def q136(s: SparkSession, dir: String): DataFrame = {
    val (gens, t) = incChainWithTomb(s, dir)
    serveAdc(s, dir,
      s.read.parquet(s"${gens.head}/codebook"),
      dropTombstoned(s, gens.map(g => s.read.parquet(s"$g/codes"))
        .reduce(_ unionByName _), Seq(t)))
  }

  private def q137(s: SparkSession, dir: String): DataFrame = {
    val (gens, t) = incChainWithTomb(s, dir)
    val c = compactChain(s, gens, Seq(t), s"${incIndexRoot(s, dir)}/tombcompact")
    serveAdc(s, dir,
      s.read.parquet(s"$c/codebook"),
      s.read.parquet(s"$c/codes"))
  }

  // The oracle replays q87's train-on-yesterday / encode-everything
  // stack and excludes the removed ids from SERVING only — a hash match
  // proves pure anti-join removal is exact under the frozen codebook
  // (q136) and that physical compaction is indistinguishable from the
  // logical union ∪ tombstone serve (q137, same SQL — the q133/q134
  // oracle pairing).
  private val q136Sql =
    s"WITH ${pqSqlCtesFor(s"NOT ($IncBatchSql)")},\n${adcSqlStackFor(s"NOT (a.$PqTakedownWhere)")}"

  // ---------------------------------------------------------------------
  // q167 — VECTOR RETENTION-WINDOW SERVE (the q162 move on the PQ
  // index, closing the retention story across all three serving
  // families — dedup q162, lexical q166, vector here): stored codes
  // live in per-era generations, and expiry is PHYSICAL — the ADC
  // serve unions only the LIVE window's code generations, so a retired
  // era's vectors drop out of every answer with no state rewrite. The
  // CODEBOOK is retained (trained model parameters, not user content —
  // the q87 frozen-codebook discipline: retiring content never
  // retrains or re-encodes the survivors). The relation is the
  // windowed ADC top-k PLUS the audit columns: `rank_full` — the
  // vector's rank when the retired era still served — and `resurfaced`
  // = the vector entered the top-k only because retired vectors
  // vacated slots (absent from the full top-k), so every
  // retention-enabled promotion is visible.
  //
  // Eras split the corpus by vec_id parity (era 0 = retired evens,
  // era 1 = live odds — q162/q166's fixture geometry). Scale shape:
  // the era split is a one-time re-bucketing of stored 8-nibble codes
  // (corpus vectors are never re-read); both serves are q79's ADC
  // plan — broadcast distance tables, per-query cost independent of
  // corpus size; retirement is a generation-list edit.
  private[graft] def retIndexRoot(s: SparkSession, dir: String): String =
    s"$pqIndexRoot/${pqDataFingerprint(s, dir)}-ret"

  /** The retention chain's era generations: the full build's stored
    * codes split by id parity into two marker-last artifacts (codes
    * move, vectors are never re-read or re-encoded). */
  private[graft] def buildRetChain(s: SparkSession, dir: String): (String, String) = {
    buildPqIndex(s, dir)
    val codes = s"${pqIndexPath(s, dir)}/codes"
    val root = retIndexRoot(s, dir)
    def era(tag: String, keepOdd: Boolean): String = {
      val p = new org.apache.hadoop.fs.Path(s"$root/era$tag")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      publishArtifact(fs, p) { tmp =>
        s.read.parquet(codes)
          .filter(col("vec_id") % 2 === (if (keepOdd) 1 else 0))
          .write.mode("overwrite").parquet(s"$tmp/codes")
      }
      p.toString
    }
    (era("0", keepOdd = false), era("1", keepOdd = true))
  }

  private def q167(s: SparkSession, dir: String): DataFrame = {
    val (e0, e1) = buildRetChain(s, dir)
    val codebook = s.read.parquet(s"${pqIndexPath(s, dir)}/codebook")
    val win = serveAdc(s, dir, codebook, s.read.parquet(s"$e1/codes"))
    val full = serveAdc(s, dir, codebook,
      s.read.parquet(s"$e0/codes").union(s.read.parquet(s"$e1/codes")))
      .select(col("qid"), col("vec_id"), col("rank").as("rank_full"))
    win.join(full, Seq("qid", "vec_id"), "left")
      .withColumn("resurfaced", col("rank_full").isNull)
      .select("qid", "vec_id", "adist", "rank", "rank_full", "resurfaced")
      .orderBy("qid", "rank")
  }

  // The oracle replays q64's train/encode stack ONCE (the codebook and
  // codes are era-independent) and stacks TWO ADC serves — live-era
  // codes only (the never-ingested-that-era serve) and full history
  // (for the audit columns): a hash match proves era retirement serves
  // exactly as if era 0's codes had never been stored, with every
  // resurfaced row a genuine full-top-k absentee.
  private val q167Sql =
    s"""WITH $pqSqlCtes,
      |n2q AS (
      |  SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2q
      |  FROM quants WHERE vec_id < $NumQueries GROUP BY vec_id, sub),
      |dtab AS (
      |  SELECT s.vec_id AS qid, s.sub, s.cid, n.n2q + s.score AS d
      |  FROM scores2 s JOIN n2q n ON s.vec_id = n.vec_id AND s.sub = n.sub
      |  WHERE s.vec_id < $NumQueries),
      |adc_w AS (
      |  SELECT t.qid, a.vec_id, CAST(SUM(t.d) AS BIGINT) AS adist
      |  FROM a2 a JOIN dtab t ON a.sub = t.sub AND a.cid = t.cid
      |  WHERE t.qid != a.vec_id AND a.vec_id % 2 = 1
      |  GROUP BY t.qid, a.vec_id),
      |rank_w AS (
      |  SELECT qid, vec_id, adist,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS INT) AS rank
      |  FROM adc_w),
      |adc_f AS (
      |  SELECT t.qid, a.vec_id, CAST(SUM(t.d) AS BIGINT) AS adist
      |  FROM a2 a JOIN dtab t ON a.sub = t.sub AND a.cid = t.cid
      |  WHERE t.qid != a.vec_id
      |  GROUP BY t.qid, a.vec_id),
      |rank_f AS (
      |  SELECT qid, vec_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS INT) AS rank
      |  FROM adc_f)
      |SELECT w.qid, w.vec_id, w.adist, w.rank, f.rank AS rank_full,
      |       f.rank IS NULL AS resurfaced
      |FROM rank_w w LEFT JOIN rank_f f
      |  ON w.qid = f.qid AND w.vec_id = f.vec_id AND f.rank <= 3
      |WHERE w.rank <= 3 ORDER BY w.qid, w.rank""".stripMargin

  // ---------------------------------------------------------------------
  // q120 — IVF INDEX HEALTH REPORT: the operational dashboard for the
  // q48/q71 coarse quantizer — cell-population balance decides whether
  // probing nprobe cells actually bounds query cost, so an index build
  // publishes: non-empty cell count vs pivot count (dead pivots), the
  // largest cell's corpus share, the EXPECTED probed-cell size for a
  // data-distributed query (Σ sz²/n — each cell is probed with
  // probability ∝ its own mass), and the imbalance factor vs a
  // perfectly balanced index (1000 = balanced; the q48 stride-sampled
  // pivots land near that on this corpus, which is the point of
  // sampling pivots from the data). Integer milli/ppm throughout;
  // division-first where a product could overflow (Σ sz² ≤ max_cell·n
  // stays in int64 for any real index — a degenerate index is already
  // visible in max_cell before the sum could overflow).
  //
  // Scale: reuses ivfCells' assignment pass unchanged; the rollup is
  // cell-count-sized, then one row.
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val (assigned, _) = ivfCells(s, dir)
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("sz"))
    val nPivots = Tables.embeddings(s, dir)
      .filter(col("vec_id") % PivotStride === PivotPhase)
      .agg(count(lit(1)).as("n_pivots"))
    sizes.agg(
        count(lit(1)).as("n_cells_nonempty"),
        sum(col("sz")).as("n_vectors"),
        max(col("sz")).as("max_cell"),
        sum(col("sz") * col("sz")).as("sz2"))
      .crossJoin(broadcast(nPivots))
      .withColumn("mean_cell_milli", expr("(1000 * n_vectors) div n_cells_nonempty"))
      .withColumn("expected_probe_sz", expr("sz2 div n_vectors"))
      .withColumn("imbalance_milli",
        expr("(1000 * (sz2 div n_vectors)) div (n_vectors div n_cells_nonempty)"))
      .withColumn("top_share_ppm", expr("(1000000 * max_cell) div n_vectors"))
      .select("n_pivots", "n_cells_nonempty", "n_vectors", "max_cell",
        "mean_cell_milli", "expected_probe_sz", "imbalance_milli", "top_share_ppm")
  }

  private val q120Sql =
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |sizes AS (SELECT cell, COUNT(*) AS sz FROM cells GROUP BY cell),
      |np AS (SELECT COUNT(*) AS n_pivots FROM embeddings WHERE vec_id % $PivotStride = $PivotPhase),
      |agg AS (
      |  SELECT COUNT(*) AS n_cells_nonempty, CAST(SUM(sz) AS BIGINT) AS n_vectors,
      |         MAX(sz) AS max_cell, CAST(SUM(sz * sz) AS BIGINT) AS sz2
      |  FROM sizes)
      |SELECT np.n_pivots, a.n_cells_nonempty, a.n_vectors, a.max_cell,
      |       (1000 * a.n_vectors) // a.n_cells_nonempty AS mean_cell_milli,
      |       a.sz2 // a.n_vectors AS expected_probe_sz,
      |       (1000 * (a.sz2 // a.n_vectors)) // (a.n_vectors // a.n_cells_nonempty) AS imbalance_milli,
      |       (1000000 * a.max_cell) // a.n_vectors AS top_share_ppm
      |FROM agg a CROSS JOIN np""".stripMargin

  // ---------------------------------------------------------------------
  // q122 — IVF NPROBE TUNING CURVE: the measurement that sets an IVF
  // deployment's one serving knob — for nprobe ∈ 1..4, recall@3 against
  // exact search AND the average number of candidates scanned per
  // query. Recall buys are paid for in scanned vectors; the curve shows
  // exactly where the next probe stops paying. One pass produces the
  // whole sweep: a candidate reached at cell-rank c participates in
  // every p ≥ c via a bounded explode — the detector (assignment,
  // probes, in-cell exact ranking) is never re-run per p (the q107
  // curve discipline applied to the ANN family).
  //
  // Scale: the affinity/assignment pass is ivfCells' O(N·K) shape run
  // once; candidates are the probed cells' members ×≤4, ranked by
  // bounded-(p, Q) windows; the exact-truth arm is q36's broadcast
  // shape cut at k=3. Rollups are ≤4·Q rows.
  private val SweepMaxProbe = 4
  private def q122(s: SparkSession, dir: String): DataFrame = {
    // the production detector's own coarse layer (ONE pivot/cosine/rank
    // definition — the sweep measures the q48/q71 chain, not a copy of
    // it), widened to the sweep's probe bound
    val (assigned, probes) = ivfCells(s, dir, maxProbe = SweepMaxProbe)
    val vecs = graft.Caches.track(corpusVecs(s, dir).select("vec_id", "qa", "n2"))
      // tracked cache (idempotent with ivfCells' own): scoring reads it
    val queries = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val exact = vecs.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", cosine(expr("graft_dot(qq, qa)"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("qid", "vec_id")
    val scanned = graft.Caches.track(probes
      .join(assigned, "cell")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        explode(expr(s"sequence(CAST(crank AS BIGINT), ${SweepMaxProbe}L)")).as("p")))
    val served = scanned
      .join(vecs, "vec_id")
      .join(broadcast(queries), "qid")
      .withColumn("cos", cosine(expr("graft_dot(qq, qa)"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("p", "qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("p", "qid", "vec_id")
    val hits = served.join(exact, Seq("qid", "vec_id"))
      .groupBy("p", "qid").agg(count(lit(1)).as("hits"))
    val scans = scanned.groupBy("p", "qid").agg(count(lit(1)).as("n_scanned"))
    probes.select("qid").distinct()
      .crossJoin(s.range(1, SweepMaxProbe + 1).select(col("id").as("p")))
      .join(hits, Seq("p", "qid"), "left")
      .join(scans, Seq("p", "qid"), "left")
      .na.fill(0L, Seq("hits", "n_scanned"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_queries"),
        expr("(1000000 * sum(hits)) div (3 * count(1))").as("recall_ppm"),
        expr("sum(n_scanned) div count(1)").as("avg_scanned"))
      .orderBy("p")
  }

  private val q122Sql =
    s"""WITH $quantSqlCte,
      |$ivfSqlCtes,
      |probes4 AS (
      |  SELECT vec_id AS qid, cell, crank FROM ranked_cells
      |  WHERE vec_id < $NumQueries AND crank <= $SweepMaxProbe),
      |e_dots AS (
      |  SELECT q.vec_id AS qid, v.vec_id,
      |         CAST(list_sum([q.qa[i] * v.qa[i] for i in range(1, len(q.qa) + 1)]) AS DOUBLE)
      |           / (SQRT(CAST(q.n2 AS DOUBLE)) * SQRT(CAST(v.n2 AS DOUBLE))) AS cos
      |  FROM vecs q CROSS JOIN vecs v
      |  WHERE q.vec_id < $NumQueries AND q.vec_id != v.vec_id),
      |e_top AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
      |    FROM e_dots) WHERE rank <= 3),
      |sc AS (
      |  SELECT pr.qid, a.vec_id, pp.p
      |  FROM probes4 pr JOIN cells a ON pr.cell = a.cell AND a.vec_id != pr.qid
      |  CROSS JOIN (SELECT unnest(range(1, ${SweepMaxProbe + 1})) AS p) pp
      |  WHERE pr.crank <= pp.p),
      |s_scored AS (
      |  SELECT s.p, s.qid, s.vec_id,
      |         CAST(list_sum([x.qa[i] * y.qa[i] for i in range(1, len(x.qa) + 1)]) AS DOUBLE)
      |           / (SQRT(CAST(x.n2 AS DOUBLE)) * SQRT(CAST(y.n2 AS DOUBLE))) AS cos
      |  FROM sc s JOIN vecs x ON s.qid = x.vec_id JOIN vecs y ON s.vec_id = y.vec_id),
      |s_top AS (
      |  SELECT p, qid, vec_id FROM (
      |    SELECT p, qid, vec_id,
      |           ROW_NUMBER() OVER (PARTITION BY p, qid ORDER BY cos DESC, vec_id) AS rank
      |    FROM s_scored) WHERE rank <= 3),
      |hits AS (
      |  SELECT t.p, t.qid, COUNT(*) AS hits
      |  FROM s_top t JOIN e_top e ON t.qid = e.qid AND t.vec_id = e.vec_id
      |  GROUP BY t.p, t.qid),
      |scn AS (SELECT p, qid, COUNT(*) AS n_scanned FROM sc GROUP BY p, qid),
      |grid AS (
      |  SELECT q.qid, pp.p
      |  FROM (SELECT DISTINCT qid FROM probes4) q
      |  CROSS JOIN (SELECT unnest(range(1, ${SweepMaxProbe + 1})) AS p) pp)
      |SELECT g.p, COUNT(*) AS n_queries,
      |       (1000000 * CAST(SUM(COALESCE(h.hits, 0)) AS BIGINT)) // (3 * COUNT(*)) AS recall_ppm,
      |       CAST(SUM(COALESCE(s.n_scanned, 0)) AS BIGINT) // COUNT(*) AS avg_scanned
      |FROM grid g
      |LEFT JOIN hits h ON g.p = h.p AND g.qid = h.qid
      |LEFT JOIN scn s ON g.p = s.p AND g.qid = s.qid
      |GROUP BY g.p ORDER BY g.p""".stripMargin

  // ---------------------------------------------------------------------
  // q117 — CLUSTER-BALANCED CORESET SELECTION: the curation step q59's
  // clustering exists to serve (SemDeDup / cluster-balanced pruning):
  // cap every k-means cluster at an equal budget (n_total div 2K) and
  // keep each cluster's most PROTOTYPICAL members — rank by integer
  // dist² to the trained centroid, ascending — so the selected subset
  // covers every mode of the embedding space instead of letting the
  // dominant cluster eat the whole budget.
  //
  // Scale: per-cluster rank is a corpus-sized total order, so it runs
  // as a TWO-PHASE prefix sum in the q92/q112 family — but bucketed by
  // ⌊log₂(dist²+1)⌋ (≤64 value-ordered buckets per cluster; log₂ is
  // monotone, so bucket order ≡ rank order and equal dist² never spans
  // buckets) instead of md5 high bits: the offsets relation stays
  // bounded (K×64 rows), and the within-bucket window partitions by
  // (cid, bucket). Unlike the md5 permutation the bucket sizes follow
  // the dist² distribution, so a degenerate cluster (all points
  // equidistant) concentrates one bucket — the documented residual;
  // the DuckDB oracle ranks with one plain window, cross-checking the
  // formulations.
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val a = graft.Caches.track(kmAssignments(s, dir)
      .withColumn("lb", (length(bin(col("dist2") + 1)) - 1).cast("int")))
    val tot = a.agg(count(lit(1)).as("n_total"))
    val counts = a.groupBy("cid", "lb").agg(count(lit(1)).as("c"))
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(
        Window.partitionBy("cid").orderBy("lb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cid", "lb", "off")
    val sizes = counts.groupBy("cid").agg(sum(col("c")).as("n_c"))
    a.withColumn("rn", row_number().over(
        Window.partitionBy("cid", "lb").orderBy("dist2", "vec_id")))
      .join(broadcast(offsets), Seq("cid", "lb"))
      .join(broadcast(sizes), Seq("cid"))
      .crossJoin(broadcast(tot))
      .withColumn("rank", col("off") + col("rn"))
      .withColumn("quota", least(col("n_c"), expr(s"n_total div ${2 * KmK}")))
      .withColumn("keep", col("rank") <= col("quota"))
      .select("vec_id", "cid", "dist2", "rank", "quota", "keep")
      .orderBy("vec_id")
  }

  private val q117Sql =
    s"""WITH $kmSqlCtes,
      |tot AS (SELECT COUNT(*) AS n_total FROM assigned),
      |sizes AS (SELECT cid, COUNT(*) AS n_c FROM assigned GROUP BY cid),
      |ranked AS (
      |  SELECT vec_id, cid, dist2,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist2, vec_id) AS BIGINT) AS rank
      |  FROM assigned)
      |SELECT r.vec_id, r.cid, r.dist2, r.rank,
      |       LEAST(s.n_c, t.n_total // ${2 * KmK}) AS quota,
      |       r.rank <= LEAST(s.n_c, t.n_total // ${2 * KmK}) AS keep
      |FROM ranked r JOIN sizes s ON r.cid = s.cid CROSS JOIN tot t
      |ORDER BY r.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q110 — HARD NEGATIVE MINING: for each query anchor, the top-3 most
  // similar vectors with a DIFFERENT label — the contrastive-training
  // mining step (the negatives that look most like the anchor are the
  // ones worth training against). q38 is its complement (top-k within
  // the class); together they are the positive/negative pair source a
  // retrieval-training pipeline feeds from.
  //
  // Scale: q36's exact broadcast shape — the 8-anchor set broadcasts as
  // array columns, one narrow pass over the corpus computes 8 codegen'd
  // integer dot products per row (graft_dot), the label inequality is a
  // map-side filter (no join key needed — the anchor set rides the
  // broadcast), and only the bounded-Q top-k window shuffles. Corpus
  // bytes never shuffle for candidate generation at any scale.
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val vecs = corpusVecs(s, dir).select("vec_id", "label", "qa", "n2")
    val queries = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("qa").as("qq"), col("n2").as("n2q"))
    vecs.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), col("label").as("neg_label"),
        round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  private val q110Sql =
    s"""WITH $quantSqlCte,
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, b.label AS neg_label,
      |         CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos
      |    AND a.vec_id < $NumQueries AND a.label != b.label
      |  GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT d.qid, d.vec_id, d.neg_label,
      |         CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) AS cos
      |  FROM dots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |ranked AS (
      |  SELECT qid, vec_id, neg_label, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |SELECT qid, vec_id, neg_label, ROUND(cos, 6) AS cosine, rank
      |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q158 — EMBEDDING-DISTRIBUTION DRIFT between corpus generations
  // (L120): the vector-space twin of q73 (text-stat drift) and q152
  // (vocabulary drift). A similarity/dedup stack (SemDeDup, the IVF
  // centroids, the q88 classifier's geometry) is calibrated against
  // the corpus generation it was built on; when an intake shard's
  // embedding distribution moves — a new encoder checkpoint, a new
  // domain, silent preprocessing drift upstream — every
  // distance-threshold decision quietly degrades. The monitored number
  // is the per-LABEL centroid shift: for each class present in both
  // generations, the squared L2 distance between the frozen corpus
  // centroid and the intake centroid (plus the worst single dimension
  // — a spike there = one feature moved, i.e. a preprocessing bug, vs
  // a uniform shift = genuine domain drift).
  //
  // Determinism: components quantize to integer 1e-4 units at the scan
  // (the q59 `quant4` convention, hash-proven) and centroids are the
  // integer floor-mean per (label, dim) — every number downstream is
  // BIGINT arithmetic both engines replay bit-exactly.
  //
  // Scale shape: ONE posexplode per slice into a (label, dim)-keyed
  // aggregation — the partial-agg shuffle carries |labels|·|dims|
  // bounded rows regardless of corpus size — then a bounded
  // centroid-to-centroid join. No vector ever compares to another
  // vector: drift monitoring is O(corpus) scan + O(labels·dims) state,
  // exactly like q73's ppb counters.
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("vec_id"), col("label"), (col("pos0") + 1).as("pos"),
        round(col("v").cast("double") * 10000.0).cast("long").as("q"))
    def cents(slice: DataFrame) = slice.groupBy("label", "pos")
      .agg(expr("sum(q) div count(1)").as("c"), count(lit(1)).as("n"))
    val corp = cents(q.filter(col("vec_id") % 5 =!= 4))
      .select(col("label"), col("pos"), col("c").as("cc"), col("n").as("nc"))
    val intake = cents(q.filter(col("vec_id") % 5 === 4))
      .select(col("label"), col("pos"), col("c").as("ci"), col("n").as("ni"))
    corp.join(intake, Seq("label", "pos"))
      .groupBy("label")
      .agg(max(col("nc")).as("n_corpus"), max(col("ni")).as("n_intake"),
        sum((col("cc") - col("ci")) * (col("cc") - col("ci"))).as("shift_sq"),
        max(abs(col("cc") - col("ci"))).as("max_dim_shift"))
      .orderBy("label")
  }

  private val q158Sql =
    """WITH q AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
      |         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000.0) AS BIGINT) AS q
      |  FROM embeddings),
      |corp AS (
      |  SELECT label, pos, CAST(SUM(q) AS BIGINT) // COUNT(*) AS cc,
      |         COUNT(*) AS nc
      |  FROM q WHERE vec_id % 5 <> 4 GROUP BY label, pos),
      |intake AS (
      |  SELECT label, pos, CAST(SUM(q) AS BIGINT) // COUNT(*) AS ci,
      |         COUNT(*) AS ni
      |  FROM q WHERE vec_id % 5 = 4 GROUP BY label, pos)
      |SELECT label, MAX(nc) AS n_corpus, MAX(ni) AS n_intake,
      |       CAST(SUM((cc - ci) * (cc - ci)) AS BIGINT) AS shift_sq,
      |       MAX(ABS(cc - ci)) AS max_dim_shift
      |FROM corp JOIN intake USING (label, pos)
      |GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // q163 — SEMANTIC PACK LAYOUT (L125): long-context data locality.
  // The q60/q127 pack concatenates documents in ARRIVAL order, so a
  // 2048-token training sequence stitches unrelated documents and the
  // model burns its long context on topic switches. The long-context
  // recipe is to pack RELATED documents adjacently (in-context
  // pretraining: Shi et al. 2310.10638 — cluster, then lay out
  // cluster-contiguously). This operator prices that decision: lay the
  // corpus out both ways — `arrival` (doc_id order, the shipped q60
  // layout) and `semantic` ((cluster, doc_id) order, clusters from the
  // catalog's own q59 Lloyd assignment over the documents' embeddings)
  // — and report, per layout, the sequence count (identical by
  // construction: layout permutes, never resizes), the mean number of
  // distinct clusters a sequence spans (milli), and the PURITY: the
  // fraction of tokens belonging to their sequence's majority cluster
  // (ppm). The semantic layout's purity gain IS the locality the
  // long-context run buys; a near-zero gain says the clustering is too
  // coarse to bother.
  //
  // Scale shape: both layouts ride the q60 TWO-PHASE prefix sum —
  // `arrival` bucketed by doc_id ranges, `semantic` bucketed by the
  // cluster id itself (K buckets, ordered within by doc_id) — so no
  // corpus-sized relation visits one partition; per-sequence cluster
  // mass comes from span arithmetic over the ≤(len/SeqLen + 2)-sequence
  // roster explode (tokens never explode); the two report rows are
  // bounded aggregates. Pure integer arithmetic.
  private val LayoutSeqLen = 2048L
  private val LayoutBucket = 1000L
  private def q163(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
    val cids = kmAssignments(s, dir).select(col("vec_id").as("doc_id"), col("cid"))
    val docs = graft.Caches.track(toks.join(cids, "doc_id"))
    def layoutRow(name: String, bucket: org.apache.spark.sql.Column): DataFrame = {
      val b = docs.withColumn("bucket", bucket)
      val inB = b.withColumn("cum_in", sum(col("nt")).over(
        Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val offs = b.groupBy("bucket").agg(sum(col("nt")).as("btot"))
        .withColumn("boff", coalesce(sum(col("btot")).over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bucket", "boff")
      val spans = inB.join(broadcast(offs), "bucket")
        .withColumn("e", col("boff") + col("cum_in"))
        .withColumn("st", col("e") - col("nt"))
      val perSeqCid = spans
        .select(col("cid"), col("st"), col("e"),
          explode(expr(s"sequence(st div $LayoutSeqLen, (e - 1) div $LayoutSeqLen)")).as("seq"))
        .withColumn("tin",
          least(col("e"), (col("seq") + 1) * LayoutSeqLen) -
            greatest(col("st"), col("seq") * LayoutSeqLen))
        .groupBy("seq", "cid").agg(sum(col("tin")).as("ct"))
      perSeqCid.groupBy("seq")
        .agg(count(lit(1)).as("ncl"), max(col("ct")).as("top"), sum(col("ct")).as("tot"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("ncl")).as("sncl"),
          sum(col("top")).as("stop"), sum(col("tot")).as("stot"))
        .select(lit(name).as("layout"), col("n_seqs"),
          expr("sncl * 1000 div n_seqs").as("mean_clusters_milli"),
          expr("stop * 1000000 div stot").as("purity_ppm"))
    }
    layoutRow("arrival", expr(s"doc_id div $LayoutBucket"))
      .unionByName(layoutRow("semantic", col("cid")))
      .orderBy("layout")
  }

  private val q163Sql =
    s"""WITH $kmSqlCtes,
      |ntk AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |d AS (SELECT n.doc_id, n.nt, a.cid FROM ntk n JOIN assigned a ON n.doc_id = a.vec_id),
      |arrc AS (
      |  SELECT cid, nt,
      |         CAST(SUM(nt) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM d),
      |semc AS (
      |  SELECT cid, nt,
      |         CAST(SUM(nt) OVER (ORDER BY cid, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM d),
      |arrs AS (
      |  SELECT cid, cum - nt AS st, cum AS e,
      |         unnest(range((cum - nt) // $LayoutSeqLen, (cum - 1) // $LayoutSeqLen + 1)) AS seq
      |  FROM arrc),
      |sems AS (
      |  SELECT cid, cum - nt AS st, cum AS e,
      |         unnest(range((cum - nt) // $LayoutSeqLen, (cum - 1) // $LayoutSeqLen + 1)) AS seq
      |  FROM semc),
      |arrt AS (
      |  SELECT seq, cid, CAST(SUM(LEAST(e, (seq + 1) * $LayoutSeqLen)
      |         - GREATEST(st, seq * $LayoutSeqLen)) AS BIGINT) AS ct
      |  FROM arrs GROUP BY 1, 2),
      |semt AS (
      |  SELECT seq, cid, CAST(SUM(LEAST(e, (seq + 1) * $LayoutSeqLen)
      |         - GREATEST(st, seq * $LayoutSeqLen)) AS BIGINT) AS ct
      |  FROM sems GROUP BY 1, 2),
      |arrp AS (SELECT seq, COUNT(*) AS ncl, MAX(ct) AS top, CAST(SUM(ct) AS BIGINT) AS tot FROM arrt GROUP BY seq),
      |semp AS (SELECT seq, COUNT(*) AS ncl, MAX(ct) AS top, CAST(SUM(ct) AS BIGINT) AS tot FROM semt GROUP BY seq)
      |SELECT 'arrival' AS layout, COUNT(*) AS n_seqs,
      |       (CAST(SUM(ncl) AS BIGINT) * 1000) // COUNT(*) AS mean_clusters_milli,
      |       (CAST(SUM(top) AS BIGINT) * 1000000) // CAST(SUM(tot) AS BIGINT) AS purity_ppm
      |FROM arrp
      |UNION ALL
      |SELECT 'semantic', COUNT(*),
      |       (CAST(SUM(ncl) AS BIGINT) * 1000) // COUNT(*),
      |       (CAST(SUM(top) AS BIGINT) * 1000000) // CAST(SUM(tot) AS BIGINT)
      |FROM semp
      |ORDER BY layout""".stripMargin

  // ---------------------------------------------------------------------
  // q176 — JOHNSON-LINDENSTRAUSS PROJECTION CURVE: can the pipeline
  // simply carry SHORTER vectors? Project the embedding table with the
  // database-friendly ±1 random projection (Achlioptas 2003, JL lemma)
  // and MEASURE what retrieval loses at K = 16/32/48 of 64 dims — per
  // (K, query): top-5 overlap against the full-precision ranking plus
  // the max/avg absolute cosine error over all scored pairs. PQ
  // (q63/q64) compresses the STORED codes; this is the upstream knob,
  // and the curve (the q107/q122 tuning-curve discipline) is the
  // number that sets it — on a corpus whose cosine spread is tighter
  // than the K=16 distortion the overlap collapses to ~0 and the curve
  // says so. Signs are md5-determined (+1 iff md5-int60("jl:k:pos") is
  // even) — no RNG, replays identically anywhere; all three K arms are
  // PREFIXES of one K=48 sign matrix, so the projection runs ONCE.
  // Projected coordinates rescale by `div 64` (exact integer division,
  // identical truncation both engines) so every downstream square and
  // dot stays inside int64 at ANY embedding magnitude.
  //
  // Scale shape: the sign matrix is a 48×D broadcast; the projection is
  // one narrow join + (vec_id, k) aggregation rolled up to one array
  // row per vector; every serving arm is q36's audited broadcast +
  // graft_dot shape over slices of that row (zero corpus shuffle for
  // candidates); the audit joins workload-sliver relations.
  private val JlArms = Seq(16, 32, 48)

  /** The JL ±1 sign matrix (k = 1..48 × pos = 1..64) is a CONSTANT
    * (md5 of "jl:k:pos" — the planeSigns discipline), computed in plain
    * Scala and inlined as a foldable literal: bit-identical to the old
    * relational form (same 15-hex-char int60, same parity rule). */
  private lazy val jlSigns: IndexedSeq[IndexedSeq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to JlArms.max).map { k =>
      (1 to 64).map { pos =>
        val hex = md.digest(s"jl:$k:$pos".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        1L - 2L * (java.lang.Long.parseLong(hex.take(15), 16) % 2L)
      }
    }
  }

  private def q176(s: SparkSession, dir: String): DataFrame = {
    val vecs = corpusVecs(s, dir).select("vec_id", "qa", "n2")
    val queries0 = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val full = graft.Caches.track(vecs.crossJoin(broadcast(queries0))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos_full", round(cosine(col("dot"), col("n2q"), col("n2")), 6))
      .select("qid", "vec_id", "cos_full"))
    // the projection as 48 codegen'd graft_dot kernels against literal
    // sign rows (the planeSigns/projCol pattern; guide §2.4 + §4.1): the
    // old form re-exploded every vector's 64 coordinates, fanned them
    // ×48 through a broadcast sign join, and paid a (vec_id, k) Exchange
    // + a collect_list regroup Exchange just to reassemble this array.
    // Long sums are exact and order-free, so y_k is bit-identical. (NOT
    // a transform/zip_with lambda: higher-order functions interpret per
    // element — measured slower than the shuffle it replaced.)
    val jvecs = graft.Caches.track(
      corpusVecs(s, dir).select(col("vec_id"),
        array(jlSigns.map(sa =>
          expr(s"graft_dot(qa, array(${sa.mkString("L,")}L)) div 64")): _*).as("qa")))
    val jl = JlArms.map { kd =>
      val jv = jvecs.select(col("vec_id"), expr(s"slice(qa, 1, $kd)").as("qa"))
        .withColumn("n2", expr("graft_dot(qa, qa)"))
      val jq = jv.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
      jv.crossJoin(broadcast(jq))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("dot", expr("graft_dot(qq, qa)"))
        .withColumn("cos_jl", round(cosine(col("dot"), col("n2q"), col("n2")), 6))
        .select(lit(kd).as("kdim"), col("qid"), col("vec_id"), col("cos_jl"))
    }.reduce(_ union _)
    val errs = graft.Caches.track(jl.join(full, Seq("qid", "vec_id"))
      .withColumn("err_micro",
        round(abs(col("cos_full") - col("cos_jl")) * 1e6).cast("long")))
    val ft = full
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_full").desc, col("vec_id"))))
      .filter(col("rk") <= 5).select("qid", "vec_id")
    val jt = errs
      .withColumn("rk", row_number().over(
        Window.partitionBy("kdim", "qid").orderBy(col("cos_jl").desc, col("vec_id"))))
      .filter(col("rk") <= 5).select("kdim", "qid", "vec_id")
    val overlap = jt.join(ft, Seq("qid", "vec_id"))
      .groupBy("kdim", "qid").agg(count(lit(1)).as("top5_overlap"))
    errs.groupBy("kdim", "qid").agg(count(lit(1)).as("n_pairs"),
        max(col("err_micro")).as("max_err_micro"),
        expr("sum(err_micro) div count(1)").as("avg_err_micro"))
      .join(overlap, Seq("kdim", "qid"), "left")
      .withColumn("top5_overlap", coalesce(col("top5_overlap"), lit(0L)))
      .select("kdim", "qid", "n_pairs", "top5_overlap", "max_err_micro", "avg_err_micro")
      .orderBy("kdim", "qid")
  }

  private val q176Sql =
    s"""WITH $quantSqlCte,
      |fdots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.pos = b.pos AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  GROUP BY 1, 2),
      |fscored AS (
      |  SELECT d.qid, d.vec_id,
      |         ROUND(CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))), 6) AS cos_full
      |  FROM fdots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |arms AS (SELECT unnest([${JlArms.mkString(", ")}]) AS kdim),
      |signs AS (
      |  SELECT p.pos, k.k,
      |         1 - 2 * (CAST(('0x' || substring(md5('jl:' || k.k::VARCHAR || ':' || p.pos::VARCHAR), 1, 15)) AS BIGINT) % 2) AS sgn
      |  FROM (SELECT DISTINCT pos FROM quant) p
      |  CROSS JOIN (SELECT unnest(range(1, ${JlArms.max + 1})) AS k) k),
      |proj AS (
      |  SELECT q.vec_id, s.k, CAST(SUM(q.q * s.sgn) AS BIGINT) // 64 AS y
      |  FROM quant q JOIN signs s ON q.pos = s.pos GROUP BY 1, 2),
      |jnorms AS (
      |  SELECT a.kdim, p.vec_id, CAST(SUM(p.y * p.y) AS BIGINT) AS n2
      |  FROM proj p CROSS JOIN arms a WHERE p.k <= a.kdim GROUP BY 1, 2),
      |jdots AS (
      |  SELECT ar.kdim, a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.y * b.y) AS BIGINT) AS dot
      |  FROM proj a JOIN proj b ON a.k = b.k AND a.vec_id < $NumQueries AND a.vec_id != b.vec_id
      |  CROSS JOIN arms ar WHERE a.k <= ar.kdim
      |  GROUP BY 1, 2, 3),
      |jscored AS (
      |  SELECT d.kdim, d.qid, d.vec_id,
      |         ROUND(CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))), 6) AS cos_jl
      |  FROM jdots d
      |  JOIN jnorms nq ON d.kdim = nq.kdim AND d.qid = nq.vec_id
      |  JOIN jnorms nd ON d.kdim = nd.kdim AND d.vec_id = nd.vec_id),
      |errs AS (
      |  SELECT j.kdim, f.qid, f.vec_id, f.cos_full, j.cos_jl,
      |         CAST(ROUND(ABS(f.cos_full - j.cos_jl) * 1000000.0) AS BIGINT) AS err_micro
      |  FROM fscored f JOIN jscored j ON f.qid = j.qid AND f.vec_id = j.vec_id),
      |ft AS (SELECT qid, vec_id FROM (
      |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_full DESC, vec_id) AS rk
      |  FROM fscored) WHERE rk <= 5),
      |jt AS (SELECT kdim, qid, vec_id FROM (
      |  SELECT kdim, qid, vec_id, ROW_NUMBER() OVER (PARTITION BY kdim, qid ORDER BY cos_jl DESC, vec_id) AS rk
      |  FROM errs) WHERE rk <= 5),
      |ov AS (SELECT j.kdim, j.qid, COUNT(*) AS top5_overlap
      |       FROM jt j JOIN ft f ON f.qid = j.qid AND f.vec_id = j.vec_id GROUP BY 1, 2),
      |agg AS (
      |  SELECT kdim, qid, COUNT(*) AS n_pairs, CAST(MAX(err_micro) AS BIGINT) AS max_err_micro,
      |         CAST(SUM(err_micro) AS BIGINT) // COUNT(*) AS avg_err_micro
      |  FROM errs GROUP BY 1, 2)
      |SELECT a.kdim, a.qid, a.n_pairs, COALESCE(o.top5_overlap, 0) AS top5_overlap,
      |       a.max_err_micro, a.avg_err_micro
      |FROM agg a LEFT JOIN ov o ON a.kdim = o.kdim AND a.qid = o.qid
      |ORDER BY a.kdim, a.qid""".stripMargin

  // ---------------------------------------------------------------------
  // q177 — kNN-GRAPH HUBNESS AUDIT: high-dimensional kNN graphs grow
  // HUBS — vectors that appear in a disproportionate share of other
  // points' neighbor lists (Radovanović et al., JMLR 2010) — and a hub
  // dominates retrieval results, poisons kNN-based dedup (q38/q39
  // families), and signals degenerate embedding geometry. Per label:
  // the in-degree concentration of the within-class kNN graph —
  // anchors are a deterministic md5 1-in-8 sample (exact full-graph
  // hubness is inherently quadratic; sampled in-degree is the standard
  // estimator), each anchor contributing its top-HubK within-class
  // list (q38's exact contract). Emits per label the max in-degree,
  // the hub vector, the count of heavy vectors, and the top-1 edge
  // share in ppm — the relation that decides "re-embed or renormalize
  // this class".
  //
  // Scale shape: the anchor sample bounds the join to |class|·|sample|
  // matched rows (q38's audited within-class shape, never all-pairs);
  // every summary is label-keyed integer aggregation.
  private val HubK = 3
  private val HubHeavy = 6L // in-degree >= 2*HubK = "heavy" vector
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val vecs = graft.Caches.track(corpusVecs(s, dir))
    val anchors = vecs
      .filter(conv(substring(md5(concat(lit("hub:"), col("vec_id").cast("string"))),
        1, 15), 16, 10).cast("long") % 8 === 0)
      .select(col("vec_id").as("qid"), col("label"),
        col("qa").as("qq"), col("n2").as("n2q"))
    val edges = graft.Caches.track(anchors
      .join(vecs.select(col("vec_id"), col("label"), col("qa"), col("n2").as("n2d")), "label")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", cosine(col("dot"), col("n2q"), col("n2d")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= HubK)
      .select("qid", "vec_id", "label"))
    val deg = graft.Caches.track(
      edges.groupBy("label", "vec_id").agg(count(lit(1)).as("in_deg")))
    val nAnchors = anchors.groupBy("label").agg(count(lit(1)).as("n_anchors"))
    val tot = edges.groupBy("label").agg(count(lit(1)).as("n_edges"))
    val mx = deg.groupBy("label").agg(max(col("in_deg")).as("max_in_degree"))
    val hub = deg.join(mx, "label")
      .filter(col("in_deg") === col("max_in_degree"))
      .groupBy("label").agg(min(col("vec_id")).as("hub_vec_id"))
    val heavy = deg.filter(col("in_deg") >= HubHeavy)
      .groupBy("label").agg(count(lit(1)).as("n_heavy"))
    nAnchors.join(tot, "label").join(mx, "label").join(hub, "label")
      .join(heavy, Seq("label"), "left")
      .withColumn("n_heavy", coalesce(col("n_heavy"), lit(0L)))
      .withColumn("top1_share_ppm", expr("max_in_degree * 1000000 div n_edges"))
      .select("label", "n_anchors", "n_edges", "max_in_degree",
        "hub_vec_id", "n_heavy", "top1_share_ppm")
      .orderBy("label")
  }

  private val q177Sql =
    s"""WITH $quantSqlCte,
      |labels AS (SELECT DISTINCT vec_id, label FROM quant),
      |anchors AS (
      |  SELECT vec_id, label FROM labels
      |  WHERE CAST(('0x' || substring(md5('hub:' || vec_id::VARCHAR), 1, 15)) AS BIGINT) % 8 = 0),
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id, l.label, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
      |  FROM quant a JOIN quant b ON a.label = b.label AND a.pos = b.pos AND a.vec_id != b.vec_id
      |  JOIN anchors an ON a.vec_id = an.vec_id
      |  JOIN labels l ON b.vec_id = l.vec_id
      |  GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT d.qid, d.vec_id, d.label,
      |         CAST(d.dot AS DOUBLE) / (SQRT(CAST(nq.n2 AS DOUBLE)) * SQRT(CAST(nd.n2 AS DOUBLE))) AS cos
      |  FROM dots d JOIN norms nq ON d.qid = nq.vec_id JOIN norms nd ON d.vec_id = nd.vec_id),
      |edges AS (
      |  SELECT qid, vec_id, label FROM (
      |    SELECT qid, vec_id, label,
      |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
      |    FROM scored) WHERE rk <= $HubK),
      |deg AS (SELECT label, vec_id, COUNT(*) AS in_deg FROM edges GROUP BY 1, 2),
      |na AS (SELECT label, COUNT(*) AS n_anchors FROM anchors GROUP BY 1),
      |te AS (SELECT label, COUNT(*) AS n_edges FROM edges GROUP BY 1),
      |mx AS (SELECT label, CAST(MAX(in_deg) AS BIGINT) AS max_in_degree FROM deg GROUP BY 1),
      |hub AS (
      |  SELECT d.label, MIN(d.vec_id) AS hub_vec_id
      |  FROM deg d JOIN mx ON d.label = mx.label AND d.in_deg = mx.max_in_degree
      |  GROUP BY 1),
      |heavy AS (SELECT label, COUNT(*) AS n_heavy FROM deg WHERE in_deg >= $HubHeavy GROUP BY 1)
      |SELECT na.label, na.n_anchors, te.n_edges, mx.max_in_degree, hub.hub_vec_id,
      |       COALESCE(heavy.n_heavy, 0) AS n_heavy,
      |       mx.max_in_degree * 1000000 // te.n_edges AS top1_share_ppm
      |FROM na JOIN te ON na.label = te.label
      |JOIN mx ON na.label = mx.label
      |JOIN hub ON na.label = hub.label
      |LEFT JOIN heavy ON na.label = heavy.label
      |ORDER BY na.label""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_ann_bruteforce" -> (q36 _),
    "q176_jl_projection" -> (q176 _),
    "q177_hubness_audit" -> (q177 _),
    "q158_embedding_drift" -> (q158 _),
    "q163_semantic_pack_layout" -> (q163 _),
    "q37_ann_lsh"        -> (q37 _),
    "q38_knn_within_class" -> (q38 _),
    "q110_hard_negatives"  -> (q110 _),
    "q117_cluster_coreset" -> (q117 _),
    "q120_ivf_health"      -> (q120 _),
    "q121_pq_health"       -> (q121 _),
    "q122_nprobe_curve"    -> (q122 _),
    "q124_pq_compact_gate" -> (q124 _),
    "q39_cosine_neardup"   -> (q39 _),
    "q48_ann_ivf"          -> (q48 _),
    "q50_semantic_dedup"   -> (q50 _),
    "q165_embed_decontam"  -> (q165 _),
    "q59_kmeans_clusters"  -> (q59 _),
    "q63_pq_codes"         -> (q63 _),
    "q64_pq_adc"           -> (q64 _),
    "q68_embed_outliers"   -> (q68 _),
    "q71_ivfpq_search"     -> (q71 _),
    "q86_ann_recall"       -> (q86 _),
    "q184_graph_ann"       -> (q184 _),
    "q185_graph_recall"    -> (q185 _),
    "q186_graph_tuning"    -> (q186 _),
    "q187_graph_density"   -> (q187 _),
    "q78_pq_index_build"   -> (q78 _),
    "q79_pq_index_search"  -> (q79 _),
    "q87_pq_index_ingest"  -> (q87 _),
    "q136_pq_takedown"     -> (q136 _),
    "q167_pq_retention"    -> (q167 _),
    "q137_pq_takedown_compact" -> (q137 _),
  )

  override val oracle: Map[String, String] = Map(
    "q36_ann_bruteforce" -> q36Sql,
    "q176_jl_projection" -> q176Sql,
    "q177_hubness_audit" -> q177Sql,
    "q158_embedding_drift" -> q158Sql,
    "q163_semantic_pack_layout" -> q163Sql,
    "q37_ann_lsh"        -> q37Sql,
    "q38_knn_within_class" -> q38Sql,
    "q110_hard_negatives"  -> q110Sql,
    "q117_cluster_coreset" -> q117Sql,
    "q120_ivf_health"      -> q120Sql,
    "q121_pq_health"       -> q121Sql,
    "q122_nprobe_curve"    -> q122Sql,
    "q124_pq_compact_gate" -> q124Sql,
    "q39_cosine_neardup"   -> q39Sql,
    "q48_ann_ivf"          -> q48Sql,
    "q50_semantic_dedup"   -> q50Sql,
    "q165_embed_decontam"  -> q165Sql,
    "q59_kmeans_clusters"  -> q59Sql,
    "q63_pq_codes"         -> q63Sql,
    "q64_pq_adc"           -> q64Sql,
    "q68_embed_outliers"   -> q68Sql,
    "q71_ivfpq_search"     -> q71Sql,
    "q86_ann_recall"       -> q86Sql,
    "q184_graph_ann"       -> q184Sql,
    "q185_graph_recall"    -> q185Sql,
    "q186_graph_tuning"    -> q186Sql,
    "q187_graph_density"   -> q187Sql,
    "q78_pq_index_build"   -> q78Sql,
    "q79_pq_index_search"  -> q64Sql, // identical contract, served from the artifact
    "q87_pq_index_ingest"  -> q87Sql,
    "q136_pq_takedown"     -> q136Sql,
    "q167_pq_retention"    -> q167Sql,
    "q137_pq_takedown_compact" -> q136Sql, // compaction must be invisible (the q133/q134 pairing)
  )
}
