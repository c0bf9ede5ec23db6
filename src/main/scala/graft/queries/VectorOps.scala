package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QDef, Tables}
import graft.operators.TopK
import graft.util.Det._
import graft.util.Persist.Syntax

/** Similarity search over the `embeddings` fixture (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, a
  * random-hyperplane-LSH bucketed variant as the scale path, and
  * vector-statistics / near-dup aggregation.
  *
  * All arithmetic is done in double (elements cast up before multiply)
  * with strict left-fold sums, so the DuckDB oracle can mirror it
  * bit-exactly. Probe sets are small and broadcast; the candidate side
  * streams — at 100 TB the brute-force query is one broadcast-join scan,
  * and the LSH variant replaces the scan with a bucket-key shuffle.
  */
object VectorOps {

  def defs: Seq[QDef] = Seq(v01, v02, v03, v04, v05, v06, v07, v08, v09, v10,
    v11, v12, v13, v14, v15, v16, v17, v18, v19, v20, v21, v22, v23, v24, v25,
    v26, v27, v28, v29, v30, v31, v32, v33, v34, v35, v36, v37, v38)

  /** Left-fold double dot product of two array<double> columns — the
    * `dot_fold` codegen kernel, bit-identical to the
    * aggregate(zip_with(...)) formulation and to DuckDB's sequential
    * list_sum, but one fused loop with no intermediate array. */
  private def dot(a: String, b: String): Column = expr(s"dot_fold($a, $b)")

  private def norm(a: String): Column = sqrt(dot(a, a))

  /** DuckDB mirror of [[dot]]: sequential list_sum over doubles. */
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private[queries] def embeddings(s: SparkSession, d: String): DataFrame = {
    graft.functions.SketchFunctions.registerAll(s)
    Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
  }

  /** Brute-force exact cosine top-5 for 10 probe vectors: broadcast the
    * probes, stream the corpus once. */
  private val v01 = QDef(
    "v01_knn_brute",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    ${sqlDot("q.embedding", "c.embedding")} /
       |      (sqrt(${sqlDot("q.embedding", "q.embedding")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS sim
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM p)
       |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val cand = e.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        dot("emb", "q_emb") / (norm("q_emb") * norm("emb")))
    TopK.topK(cand, Seq("q_id"), col("sim"), col("vec_id"), 5, asc = false)
      .select(col("q_id"), col("id").as("vec_id"), col("ordv").as("sim"),
        col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Per-label vector statistics (count, mean L2 norm, mean first
    * component) — the sanity profile a pipeline runs before ANN. */
  private val v02 = QDef(
    "v02_label_stats",
    s"""SELECT label, COUNT(*) AS n,
       |  ${sqlDsum(s"sqrt(${sqlDot("embedding", "embedding")})")} / COUNT(*) AS avg_norm,
       |  ${sqlDsum("CAST(embedding[1] AS DOUBLE)")} / COUNT(*) AS avg_c0
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    embeddings(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        (dsum(norm("emb")) / count(lit(1))).as("avg_norm"),
        (dsum(element_at(col("emb"), 1)) / count(lit(1))).as("avg_c0"))
      .orderBy(col("label"))
  }

  /** Hyperplane matrix for v03: 8 hyperplanes × 64 components, each
    * ~ U(-1, 1) on a 1/1000 grid, derived from the splitmix64 finalizer
    * of the flat index — a fixed index parameter (like v05's centroid
    * ids), injected as LITERALS on the Spark side (zero per-row cost;
    * Catalyst folds them into codegen constants) and as the raw integer
    * grid in the oracle SQL, where DuckDB rebuilds the identical
    * doubles via the same exact-integer-by-1000.0 IEEE division. */
  private val hpGrid: Array[Array[Long]] = Array.tabulate(8, 64) { (p, i) =>
    Math.floorMod(graft.functions.SketchKernels.mix(p * 64L + i + 1L), 2001L)
  }
  private val hp: Array[Array[Double]] =
    hpGrid.map(_.map(k => (k - 1000L).toDouble / 1000.0))

  /** Shared hyperplane-LSH oracle prefix (v03 and its v28 scorecard —
    * one definition so the eval always measures exactly v03's
    * retriever): `eb` = (vec_id, embedding, bucket). */
  private val sqlLshCtes: String = {
    val hpLit = hpGrid.map(_.mkString("[", ",", "]")).mkString("[", ",\n      ", "]")
    def hdot(emb: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($emb[i] AS DOUBLE) * h.v[i]))"
    s"""hpm AS (
       |  SELECT p, list_transform(($hpLit)[p + 1],
       |           k -> CAST(k - 1000 AS DOUBLE) / CAST(1000 AS DOUBLE)) AS v
       |  FROM range(0, 8) t(p)),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |b AS (
       |  SELECT e.vec_id, CAST(SUM(CASE WHEN ${hdot("e.embedding")} > 0
       |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, hpm h GROUP BY e.vec_id),
       |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM e JOIN b USING (vec_id))""".stripMargin
  }

  /** Spark mirror of [[sqlLshCtes]]'s bucket: the 8-bit hyperplane sign
    * fold, literals codegen-folded. */
  private def lshBucket: Column =
    (0 until 8).map { p =>
      when(dot("emb", s"array(${hp(p).map(v => s"${v}D").mkString(",")})") > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Random-hyperplane LSH (Charikar 2002) ANN: 8-bit signs of dots
    * with fixed pseudo-random hyperplanes → bucket equi-join → exact
    * cosine re-rank within bucket. The scale path: replaces the full
    * scan with a shuffle on the bucket key. */
  private val v03 = QDef(
    "v03_knn_lsh",
    s"""WITH $sqlLshCtes,
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.bucket,
         |    ${sqlDot("q.embedding", "c.embedding")} /
         |      (sqrt(${sqlDot("q.embedding", "q.embedding")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS sim
         |  FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM p)
         |SELECT q_id, vec_id, sim, rank, bucket FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    val e = embeddings(s, d).withColumn("bucket", lshBucket)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("bucket"))
    val cand = e.join(broadcast(probes), Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("emb", "q_emb") / (norm("q_emb") * norm("emb")))
    TopK.topK(cand, Seq("q_id"), col("sim"), col("vec_id"), 5, asc = false,
        extra = col("bucket"))
      .select(col("q_id"), col("id").as("vec_id"), col("ordv").as("sim"),
        col("rank"), col("extra").as("bucket"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The K-row centroid set collected into ONE sorted array row
    * (c_id asc) — broadcast so nearest-centroid assignment is pure
    * per-row expression work (r14, guide §2.4): the old shape fanned
    * the corpus out K× through a crossJoin and ranked it back down
    * with a per-vector row_number window — a full-corpus exchange +
    * sort whose only purpose was an argmax over K candidates already
    * sitting on the row's executor. */
  private def centArr(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("c_id"), col("c_emb"))))
      .as("carr"))

  /** argmax over the broadcast centroid array by (cosine DESC, c_id
    * ASC), bit-equivalent to the rank-window form it replaces: the
    * cosine is the SAME dot_fold expression chain, and array_max's
    * interpreted struct ordering is the same total order Spark's sort
    * uses on doubles (NaN greatest, -0.0 = 0.0 then tiebreak), with
    * the negated c_id making the tiebreak ascending. */
  private def nearestCid: Column = expr(
    """array_max(transform(carr, c -> struct(
      |  dot_fold(emb, c.c_emb) /
      |    (sqrt(dot_fold(emb, emb)) * sqrt(dot_fold(c.c_emb, c.c_emb))) AS o,
      |  -c.c_id AS nt, c.c_id AS c_id))).c_id""".stripMargin)

  /** Shared IVF coarse quantizer (v04/v05/v06): centroids are the
    * embeddings of 8 fixed vec_ids (100-107) — data-derived and
    * deterministic, so the DuckDB oracle replicates the assignment
    * bit-exactly. Returns (vec_id, list_id, emb). */
  private[queries] def ivfAssign(e: DataFrame): DataFrame = {
    val cents = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    e.crossJoin(broadcast(centArr(cents)))
      .select(col("vec_id"), nearestCid.as("list_id"), col("emb"))
  }

  /** DuckDB mirror of [[ivfAssign]] — CTE prefix shared by v04/v05/v06
    * oracle SQL (`assign` = vec_id, list_id, embedding). */
  private[queries] val sqlIvfCtes =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |      WHERE vec_id BETWEEN 100 AND 107),
       |asgr AS (
       |  SELECT e.vec_id, c.c_id, e.embedding,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${sqlDot("e.embedding", "c.c_emb")} /
       |        (sqrt(${sqlDot("e.embedding", "e.embedding")}) * sqrt(${sqlDot("c.c_emb", "c.c_emb")})) DESC,
       |      c.c_id) AS cr
       |  FROM e JOIN c ON true),
       |assign AS (SELECT vec_id, c_id AS list_id, embedding FROM asgr WHERE cr = 1)""".stripMargin

  /** IVF (inverted-file) ANN — the cluster-then-probe scale path the
    * brute-force scan graduates to: a coarse quantizer assigns every
    * vector to its nearest centroid's list (one broadcast + one scan),
    * queries probe only their nprobe=2 nearest lists (shuffle on the
    * list key, not a full scan), exact cosine re-rank inside the probed
    * lists. Centroids are the embeddings of 8 fixed vec_ids (100-107) —
    * data-derived and deterministic, so the DuckDB oracle replicates the
    * whole index bit-exactly. At 100 TB: assignment is embarrassingly
    * parallel, list sizes are the skew knob (re-pick centroids or split
    * hot lists), and probes touch ~nprobe/K of the corpus. */
  private val v05 = QDef(
    "v05_knn_ivf",
    s"""$sqlIvfCtes,
       |pr AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
       |probel AS (
       |  SELECT pr.q_id, c.c_id, pr.q_emb,
       |    ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
       |      ${sqlDot("pr.q_emb", "c.c_emb")} /
       |        (sqrt(${sqlDot("pr.q_emb", "pr.q_emb")}) * sqrt(${sqlDot("c.c_emb", "c.c_emb")})) DESC,
       |      c.c_id) AS cr
       |  FROM pr JOIN c ON true),
       |pl AS (SELECT q_id, c_id AS list_id, q_emb FROM probel WHERE cr <= 2),
       |cand AS (
       |  SELECT pl.q_id, a.vec_id, a.list_id,
       |    ${sqlDot("a.embedding", "pl.q_emb")} /
       |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("pl.q_emb", "pl.q_emb")})) AS sim
       |  FROM pl JOIN assign a ON a.list_id = pl.list_id
       |  WHERE a.vec_id <> pl.q_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM cand)
       |SELECT q_id, vec_id, list_id, sim, rank FROM r WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
    val cents = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    val assign = ivfAssign(e)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qsim").desc, col("c_id"))
    val probeLists = probes.crossJoin(broadcast(cents))
      .withColumn("qsim", dot("q_emb", "c_emb") / (norm("q_emb") * norm("c_emb")))
      .withColumn("cr", row_number().over(wProbe))
      .filter(col("cr") <= 2)
      .select(col("q_id"), col("c_id").as("list_id"), col("q_emb"))
    val cand = assign.join(broadcast(probeLists), Seq("list_id"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("emb", "q_emb") / (norm("emb") * norm("q_emb")))
    TopK.topK(cand, Seq("q_id"), col("sim"), col("vec_id"), 5, asc = false,
        extra = col("list_id"))
      .select(col("q_id"), col("id").as("vec_id"), col("extra").as("list_id"),
        col("ordv").as("sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** One DuckDB Lloyd assignment step: every vector to its argmax-
    * cosine centroid in `cents`, deterministic c_id tie-break. */
  private def sqlKmAssign(cents: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, c_id, embedding FROM (
       |    SELECT e.vec_id, c.c_id, e.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${sqlDot("e.embedding", "c.c_emb")} /
       |          (sqrt(${sqlDot("e.embedding", "e.embedding")}) * sqrt(${sqlDot("c.c_emb", "c.c_emb")})) DESC,
       |        c.c_id) AS cr
       |    FROM e JOIN $cents c ON true)
       |  WHERE cr = 1)""".stripMargin

  /** One DuckDB Lloyd update step: per-list element-wise mean, summed
    * exactly in decimal ([[graft.util.Det]]) so the doubles match
    * Spark's partition-order-independent sum bit-for-bit. */
  private def sqlKmUpdate(assign: String, out: String): String =
    s"""$out AS (
       |  SELECT c_id, list(m ORDER BY j) AS c_emb FROM (
       |    SELECT a.c_id, r.j,
       |      ${graft.util.Det.sqlDsum("CAST(a.embedding[r.j] AS DOUBLE)")} / COUNT(*) AS m
       |    FROM $assign a, range(1, 65) r(j)
       |    GROUP BY a.c_id, r.j)
       |  GROUP BY c_id)""".stripMargin

  /** k-means-TRAINED IVF coarse quantizer: 2 Lloyd rounds of
    * (assign to nearest centroid by cosine, recompute centroids as
    * element-wise means) from the same fixed seeds v05 uses, then the
    * final assignment with list sizes and trained-centroid norms.
    *
    * The Spark side is the standard distributed Lloyd shape (what
    * MLlib's KMeans does under the hood): each round is one broadcast
    * of the K×D centroid table + one corpus scan for the argmax, and
    * the update is a two-level aggregate ((c_id, dim) partial means,
    * then array reassembly) — map-side combined, no driver
    * materialization beyond the K×D centroid table itself. At 100 TB
    * rounds are O(scan) each and K×D stays cache-resident; the only
    * nondeterminism hazard is float sum order, which [[Det.dsum]]
    * removes by summing exactly in decimal, which is why the DuckDB
    * oracle can replay BOTH training rounds bit-exactly (the unrolled
    * a1/c1/a2/c2 CTE chain). */
  private val v07 = QDef(
    "v07_kmeans_ivf_train",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |       WHERE vec_id BETWEEN 100 AND 107),
       |${sqlKmAssign("c0", "a1")},
       |${sqlKmUpdate("a1", "c1")},
       |${sqlKmAssign("c1", "a2")},
       |${sqlKmUpdate("a2", "c2")},
       |sz AS (SELECT c_id, COUNT(*) AS csize FROM a2 GROUP BY c_id),
       |cn AS (SELECT c_id, sqrt(${sqlDot("c_emb", "c_emb")}) AS c_norm FROM c2)
       |SELECT a.vec_id, a.c_id AS list_id, sz.csize, cn.c_norm
       |FROM a2 a JOIN sz USING (c_id) JOIN cn USING (c_id)
       |ORDER BY a.vec_id""".stripMargin) { (s, d) =>
    val e = embeddings(s, d).select(col("vec_id"), col("emb"))
    var cents = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    var assign: DataFrame = null
    for (_ <- 1 to 2) {
      // per-row argmax over the broadcast centroid array (see
      // ivfAssign) — each Lloyd assignment is now a map over the scan
      assign = e.crossJoin(broadcast(centArr(cents)))
        .select(col("vec_id"), nearestCid.as("c_id"), col("emb"))
      cents = assign
        .select(col("c_id"), posexplode(col("emb")).as(Seq("j", "x")))
        .groupBy(col("c_id"), col("j"))
        .agg((dsum(col("x")) / count(lit(1))).as("m"))
        .groupBy(col("c_id"))
        .agg(expr("transform(array_sort(collect_list(struct(j, m))), s -> s.m)")
          .as("c_emb"))
    }
    val sizes = assign.groupBy(col("c_id")).agg(count(lit(1)).as("csize"))
    val cnorm = cents.select(col("c_id"), norm("c_emb").as("c_norm"))
    assign.join(broadcast(sizes), Seq("c_id")).join(broadcast(cnorm), Seq("c_id"))
      .select(col("vec_id"), col("c_id").as("list_id"), col("csize"), col("c_norm"))
      .orderBy(col("vec_id"))
  }

  /** Int8 scalar quantization audit — the storage path a 100 TB
    * embedding corpus actually ships (4× smaller than float32, 8× than
    * the double pipeline): per-vector symmetric quantization to
    * [-127, 127] with scale = 127/max|x|, then the quality metrics a
    * pipeline gates on (cosine of the vector with its dequantized self,
    * mean squared error). Pure per-row arithmetic, zero shuffle; every
    * step (multiply, round-half-away-from-zero, divide, sequential
    * fold) is IEEE-determined identically in both engines, so the
    * metrics are oracle-exact — no tolerance compare needed. */
  private val v08 = QDef(
    "v08_int8_quant_audit", {
      def fold(e: String) = s"list_sum(list_transform(range(1, 65), i -> $e))"
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |s AS (
         |  SELECT vec_id, emb,
         |    list_max(list_transform(emb, x -> abs(x))) AS amax
         |  FROM e),
         |q AS (
         |  SELECT vec_id, emb, amax,
         |    CASE WHEN amax = 0 THEN NULL
         |      ELSE list_transform(emb,
         |        x -> round(x * (CAST(127 AS DOUBLE) / amax)) / (CAST(127 AS DOUBLE) / amax))
         |    END AS deq
         |  FROM s)
         |SELECT vec_id, amax,
         |  ${fold("emb[i] * deq[i]")} /
         |    (sqrt(${fold("emb[i] * emb[i]")}) * sqrt(${fold("deq[i] * deq[i]")})) AS cos_keep,
         |  ${fold("(emb[i] - deq[i]) * (emb[i] - deq[i])")} / 64 AS mse
         |FROM q ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
    embeddings(s, d)
      .select(col("vec_id"), col("emb"))
      .withColumn("amax", expr("array_max(transform(emb, x -> abs(x)))"))
      .withColumn("deq", expr(
        """CASE WHEN amax = 0 THEN NULL
          |  ELSE transform(emb,
          |    x -> round(x * (CAST(127 AS DOUBLE) / amax)) / (CAST(127 AS DOUBLE) / amax))
          |END""".stripMargin))
      .withColumn("diff", expr("zip_with(emb, deq, (a, b) -> a - b)"))
      .select(col("vec_id"), col("amax"),
        (dot("emb", "deq") / (norm("emb") * norm("deq"))).as("cos_keep"),
        (dot("diff", "diff") / lit(64)).as("mse"))
      .orderBy(col("vec_id"))
  }

  /** Product quantization with ADC (asymmetric distance computation)
    * search — Jégou et al. 2011, the compression behind every serious
    * billion-vector index: 64 dims → 8 sub-vectors × 4-codeword
    * codebooks = 8 small codes per vector (here 2 bits each; 16 bits
    * total vs 512 bytes of doubles). Codebooks are sub-vectors of the
    * fixed seed rows 100-103 (the v05/v07 determinism trick), encoding
    * is argmin-L2² per subspace, and probes rank candidates by the ADC
    * lookup-table sum without ever touching the original vectors.
    *
    * Scale shape: the codebook (32 tiny rows) broadcasts for encoding
    * (one corpus scan); the probe LUT (10 probes × 32 entries)
    * broadcasts for search, and the per-candidate sum is a map-side-
    * combined aggregate keyed on (q_id, vec_id) — the corpus never
    * shuffles, only codes do. The 8-term ADC sums run through
    * [[graft.util.Det.dsum]] so group-merge order can't move a double;
    * everything else is IEEE-fixed, so DuckDB replays codebooks,
    * encoding, and ADC ranking bit-exactly. */
  /** DuckDB sub-vector L2² (8-dim slices, left-to-right fold). */
  private def sqlSubL2(a: String, b: String) =
    s"""list_sum(list_transform(range(1, 9),
       |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
       |           (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin

  /** Shared PQ oracle CTE chain (codebook → codes → LUT → ADC sums →
    * ranked): v09 selects the ranking, v19 extends it with the exact
    * rerank + recall audit. Ends with CTEs `adc` and `r` in scope. */
  private lazy val sqlPqCtes = {
    def l2(a: String, b: String) = sqlSubL2(a, b)
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cb AS (
         |  SELECT cv.vec_id - 100 AS c, r.m AS m,
         |    cv.embedding[r.m * 8 + 1 : r.m * 8 + 8] AS cvec
         |  FROM e cv, range(0, 8) r(m) WHERE cv.vec_id BETWEEN 100 AND 103),
         |sub AS (
         |  SELECT vec_id, r.m AS m, embedding[r.m * 8 + 1 : r.m * 8 + 8] AS svec
         |  FROM e, range(0, 8) r(m)),
         |dist AS (
         |  SELECT s.vec_id, s.m, cb.c,
         |    ${l2("s.svec", "cb.cvec")} AS d2
         |  FROM sub s JOIN cb ON s.m = cb.m),
         |code AS (
         |  SELECT vec_id, m, c FROM (
         |    SELECT vec_id, m, c,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
         |    FROM dist) WHERE rn = 1),
         |lut AS (SELECT vec_id AS q_id, m, c, d2 FROM dist WHERE vec_id < 10),
         |adc AS (
         |  SELECT lut.q_id, code.vec_id,
         |    CAST(SUM(CAST(lut.d2 AS DECIMAL(30,6))) AS DOUBLE) AS adc_d2
         |  FROM code JOIN lut ON lut.m = code.m AND lut.c = code.c
         |  WHERE code.vec_id <> lut.q_id
         |  GROUP BY lut.q_id, code.vec_id),
         |r AS (
         |  SELECT q_id, vec_id, adc_d2,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rank
         |  FROM adc)""".stripMargin
  }

  /** Spark side of the shared PQ encoding (v09 via [[pqAdc]], v15):
    * `code` is each vector's (vec_id, m, c) codebook pick per subspace
    * and `lut` the probes' (q_id, m, c, d2) distance table. */
  private def pqCodes(emb: DataFrame): (DataFrame, DataFrame) = {
    val e = emb.select(col("vec_id"), col("emb"))
    val ms = explode(sequence(lit(0), lit(7))).as("m")
    val cb = e.filter(col("vec_id").between(100, 103))
      .select((col("vec_id") - 100).as("c"), col("emb"))
      .select(col("c"), ms, col("emb"))
      .select(col("c"), col("m"), expr("slice(emb, m * 8 + 1, 8)").as("cvec"))
    val sub = e.select(col("vec_id"), ms, col("emb"))
      .select(col("vec_id"), col("m"), expr("slice(emb, m * 8 + 1, 8)").as("svec"))
    // per-row argmin over the per-subspace codebook array (the
    // ivfAssign/array_max shape with MIN semantics — ORDER BY d2, c
    // ranks NaN last exactly like array_min's NaN-greatest ordering):
    // the code assignment was a 4x corpus fan-out + a (vec_id, m)
    // rank window; now the 4 candidate distances fold per row. The
    // probe-side LUT keeps the explicit 4-way join — it is 10 rows
    // wide and needs every (m, c) distance, not the argmin.
    val cbArr = cb.groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("c"), col("cvec")))).as("cbarr"))
    val code = sub.join(broadcast(cbArr), Seq("m"))
      .select(col("vec_id"), col("m"), expr(
        """array_min(transform(cbarr, cc -> struct(
          |  aggregate(zip_with(svec, cc.cvec, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x) AS o,
          |  cc.c AS c))).c""".stripMargin).as("c"))
    val lut = sub.filter(col("vec_id") < 10).join(broadcast(cb), Seq("m"))
      .withColumn("d2", expr(
        "aggregate(zip_with(svec, cvec, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .select(col("vec_id").as("q_id"), col("m"), col("c"), col("d2"))
    (code, lut)
  }

  /** The (q_id, vec_id, adc_d2) ADC candidate sums (see v09's scaladoc
    * for the design notes). */
  private def pqAdc(s: SparkSession, d: String): DataFrame = {
    val (code, lut) = pqCodes(embeddings(s, d))
    code.join(broadcast(lut), Seq("m", "c"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(dsum(col("d2")).as("adc_d2"))
  }

  private val v09 = QDef(
    "v09_pq_adc_knn",
    s"""$sqlPqCtes
       |SELECT q_id, vec_id, adc_d2, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    TopK.topK(pqAdc(s, d), Seq("q_id"), col("adc_d2"), col("vec_id"), 5,
        asc = true)
      .select(col("q_id"), col("id").as("vec_id"), col("ordv").as("adc_d2"),
        col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diverse re-ranking: after ANN retrieval returns the top-8
    * near-duplicate-prone candidates, pick 3 that balance query
    * relevance against redundancy — score = λ·sim(q,d) −
    * (1−λ)·max_{s∈S} sim(d,s), λ=0.5, greedy. The de-duplicating
    * retrieval step a RAG / training-data sampler runs after KNN.
    *
    * Scale shape: the expensive part is the candidate stage (v01/v05's
    * shapes); MMR itself touches only k·|probes| rows — candidate sets
    * and their 8×8 pairwise sims broadcast, the 3 greedy rounds unroll
    * into window argmaxes. Cosines are bit-exact across engines, so
    * the greedy trace (and thus the oracle) is too. */
  private val v10 = QDef(
    "v10_mmr_rerank", {
      def cos(a: String, b: String) =
        s"""${sqlDot(a, b)} /
           |      (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |pr AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
         |scored AS (
         |  SELECT pr.q_id, c.vec_id, c.embedding,
         |    ${cos("pr.q_emb", "c.embedding")} AS rel
         |  FROM pr JOIN e c ON c.vec_id <> pr.q_id),
         |cand AS (
         |  SELECT q_id, vec_id, embedding, rel FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 8),
         |cs AS (
         |  SELECT a.q_id, a.vec_id AS a, b.vec_id AS b,
         |    ${cos("a.embedding", "b.embedding")} AS sim
         |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
         |s1 AS (
         |  SELECT q_id, vec_id, rel, CAST(0.5 AS DOUBLE) * rel AS score FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
         |    FROM cand) WHERE rn = 1),
         |m2 AS (
         |  SELECT c.q_id, c.vec_id, c.rel,
         |    CAST(0.5 AS DOUBLE) * c.rel - CAST(0.5 AS DOUBLE) * cs.sim AS score
         |  FROM cand c
         |  JOIN s1 ON s1.q_id = c.q_id AND c.vec_id <> s1.vec_id
         |  JOIN cs ON cs.q_id = c.q_id AND cs.a = c.vec_id AND cs.b = s1.vec_id),
         |s2 AS (
         |  SELECT q_id, vec_id, rel, score FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
         |    FROM m2) WHERE rn = 1),
         |m3 AS (
         |  SELECT c.q_id, c.vec_id, c.rel,
         |    CAST(0.5 AS DOUBLE) * c.rel -
         |      CAST(0.5 AS DOUBLE) * greatest(c1.sim, c2.sim) AS score
         |  FROM cand c
         |  JOIN s1 ON s1.q_id = c.q_id
         |  JOIN s2 ON s2.q_id = c.q_id
         |  JOIN cs c1 ON c1.q_id = c.q_id AND c1.a = c.vec_id AND c1.b = s1.vec_id
         |  JOIN cs c2 ON c2.q_id = c.q_id AND c2.a = c.vec_id AND c2.b = s2.vec_id
         |  WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id),
         |s3 AS (
         |  SELECT q_id, vec_id, rel, score FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
         |    FROM m3) WHERE rn = 1)
         |SELECT q_id, vec_id, rel, score, mmr_rank FROM (
         |  SELECT *, 1 AS mmr_rank FROM s1
         |  UNION ALL SELECT *, 2 FROM s2
         |  UNION ALL SELECT *, 3 FROM s3)
         |ORDER BY q_id, mmr_rank""".stripMargin
    }) { (s, d) =>
    val e = embeddings(s, d).select(col("vec_id"), col("emb"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val wRel = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))
    val cand = e.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("rel", dot("emb", "q_emb") / (norm("emb") * norm("q_emb")))
      .withColumn("rn", row_number().over(wRel)).filter(col("rn") <= 8)
      .select(col("q_id"), col("vec_id"), col("emb"), col("rel"))
      .persistTracked()
    val cs = cand.select(col("q_id"), col("vec_id").as("a"), col("emb").as("a_emb"))
      .join(cand.select(col("q_id"), col("vec_id").as("b"), col("emb").as("b_emb")), Seq("q_id"))
      .where(col("a") =!= col("b"))
      .withColumn("sim", dot("a_emb", "b_emb") / (norm("a_emb") * norm("b_emb")))
      .select(col("q_id"), col("a"), col("b"), col("sim"))
    // The greedy rounds run per probe over the COLLECTED k-candidate
    // set (guide §1.2 step 1 — the r13 shape unrolled them into 22
    // window argmaxes and ~15 self-joins over 8-row groups, pure
    // stage/plan overhead at any scale since MMR state is k·|probes|
    // bounded BY CONSTRUCTION). Arithmetic is the same double ops in
    // the same order as the unrolled form (0.5·rel − 0.5·sim with
    // 0.5· exact, max ≡ greatest with no NaN inputs), and every argmax
    // breaks ties on (score desc, vec_id asc) exactly like the
    // ROW_NUMBER it replaces, so the greedy trace — and the oracle
    // hash — is unchanged. Collected arrays are k and k·(k−1) entries;
    // input order cannot matter because the argmax ordering is total.
    val greedy = udf((cands: Seq[(Long, Double)], sims: Seq[(Long, Long, Double)]) => {
      val simOf = sims.map { case (a, b, v) => (a, b) -> v }.toMap
      var remaining = cands.toVector
      var selected = Vector.empty[Long]
      val out = scala.collection.mutable.Buffer[(Long, Double, Double, Int)]()
      var rank = 1
      while (rank <= 3 && remaining.nonEmpty) {
        val scored = remaining.flatMap { case (id, rel) =>
          if (selected.isEmpty) Some((id, rel, 0.5 * rel))
          else {
            val ms = selected.flatMap(p => simOf.get((id, p)))
            // mirror the unrolled joins: a candidate missing a sim row
            // to any selected pick drops out of that round
            if (ms.size < selected.size) None
            else Some((id, rel, 0.5 * rel - 0.5 * ms.max))
          }
        }
        if (scored.isEmpty) { remaining = Vector.empty }
        else {
          val best = scored.minBy { case (id, _, score) => (-score, id) }
          out += ((best._1, best._2, best._3, rank))
          selected :+= best._1
          remaining = remaining.filterNot(_._1 == best._1)
          rank += 1
        }
      }
      out.toSeq
    })
    cand.groupBy(col("q_id"))
      .agg(collect_list(struct(col("vec_id"), col("rel"))).as("cands"))
      .join(cs.groupBy(col("q_id"))
        .agg(collect_list(struct(col("a"), col("b"), col("sim"))).as("sims")),
        Seq("q_id"))
      .select(col("q_id"), explode(greedy(col("cands"), col("sims"))).as("g"))
      .select(col("q_id"), col("g._1").as("vec_id"), col("g._2").as("rel"),
        col("g._3").as("score"), col("g._4").as("mmr_rank"))
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  /** All-pairs cosine within an IVF list — the shared blocked self-join
    * behind v04/v06. Blocking on the quantizer list (NOT a metadata
    * column like `label`) is the 100 TB shape: list sizes are bounded
    * by the centroid count (the skew knob — split hot lists / re-pick
    * centroids), so per-block pair work is O(listSize²) with listSize
    * under the pipeline's control, never O(corpus²/blocks). Assignment
    * is computed ONCE: both join sides come from one
    * repartition(list_id) subtree and the shuffle_hash hint keeps AQE
    * from re-planning the small side as a broadcast (which would
    * re-run the quantizer). */
  private def listPairs(s: SparkSession, d: String): DataFrame = {
    val t = ivfAssign(embeddings(s, d)).repartition(col("list_id"))
    val l = t.select(col("list_id"), col("vec_id").as("a"), col("emb").as("emb_a"))
    val r = t.select(col("list_id"), col("vec_id").as("b"), col("emb").as("emb_b"))
    l.hint("shuffle_hash").join(r, Seq("list_id"))
      .where(col("a") < col("b"))
      .withColumn("sim",
        dot("emb_a", "emb_b") / (norm("emb_a") * norm("emb_b")))
  }

  /** DuckDB mirror of [[listPairs]] (appends to [[sqlIvfCtes]]). */
  private val sqlListPairs =
    s"""p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b, a.list_id AS list_id,
       |    ${sqlDot("a.embedding", "b.embedding")} /
       |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS sim
       |  FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id)""".stripMargin

  /** Embedding-cosine near-dup CANDIDATES (the decision ranking, not
    * the v04 profile): blocked by the IVF list ([[listPairs]]), exact
    * cosine within blocks, top-3 most-similar pairs per block. A
    * threshold gate is the production form; the fixture's max
    * within-list cosine is well below dup range, so the oracle checks
    * the ranking machinery on the pairs that WOULD be deduped first. */
  private val v06 = QDef(
    "v06_embedding_neardup_topk",
    s"""$sqlIvfCtes,
       |$sqlListPairs,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY list_id ORDER BY sim DESC, a, b) AS rnk
       |      FROM p)
       |SELECT a, b, list_id, sim, rnk FROM r WHERE rnk <= 3
       |ORDER BY list_id, rnk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("list_id"))
      .orderBy(col("sim").desc, col("a"), col("b"))
    listPairs(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("a"), col("b"), col("list_id"), col("sim"), col("rnk"))
      .orderBy(col("list_id"), col("rnk"))
  }

  /** Embedding near-dup profile: per IVF list, pair count and max /
    * high-similarity counts — the aggregation form of cosine dedup
    * (blocked self-join, no driver materialization). */
  private val v04 = QDef(
    "v04_near_dup_profile",
    s"""$sqlIvfCtes,
       |$sqlListPairs
       |SELECT list_id, COUNT(*) AS n_pairs,
       |  CAST(COUNT(*) FILTER (WHERE sim > 0.3) AS BIGINT) AS n_similar,
       |  MAX(sim) AS max_sim
       |FROM p GROUP BY list_id ORDER BY list_id""".stripMargin) { (s, d) =>
    listPairs(s, d)
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sim") > 0.3, 1L).otherwise(0L)).as("n_similar"),
        max(col("sim")).as("max_sim"))
      .orderBy(col("list_id"))
  }

  /** SemDeDup (Abbas et al. 2023) — semantic deduplication as the
    * KEEP/DROP decision over the clustered corpus: assign every vector
    * to its quantizer list (v05's coarse k-means), order each list by
    * ascending centroid cosine (the paper keeps the examples FARTHEST
    * from the centroid), and drop a point when it is ≥τ-similar to ANY
    * earlier point in its list's order — the paper's upper-triangular
    * max-similarity rule, expressed as one within-list self-join
    * instead of a per-cluster similarity matrix.
    *
    * τ=0.3 here: the fixture's within-list cosines never reach the
    * production dup range (~0.95, see v06's note), so a realistic τ
    * would be degenerate; 0.3 exercises multi-drop chains. At 100 TB
    * the shape is v04/v06's: pair work bounded by list occupancy (the
    * centroid-count knob), assignment one broadcast + one scan, and
    * the drop set a distinct over pair survivors — no similarity
    * matrix is ever materialized. */
  private val v11 = QDef(
    "v11_semdedup_keep", {
      def cos(a: String, b: String) =
        s"""${sqlDot(a, b)} /
           |      (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))""".stripMargin
      s"""$sqlIvfCtes,
         |wc AS (
         |  SELECT a.vec_id, a.list_id, a.embedding,
         |    ${cos("a.embedding", "c.c_emb")} AS ccos
         |  FROM assign a JOIN c ON c.c_id = a.list_id),
         |o AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY list_id ORDER BY ccos, vec_id) AS ord
         |      FROM wc),
         |dr AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM o x JOIN o y ON y.list_id = x.list_id AND y.ord < x.ord
         |  WHERE ${cos("x.embedding", "y.embedding")} >= CAST(0.3 AS DOUBLE))
         |SELECT o.vec_id, o.list_id, o.ccos, (dr.vec_id IS NULL) AS kept
         |FROM o LEFT JOIN dr ON dr.vec_id = o.vec_id
         |ORDER BY o.vec_id""".stripMargin
    }) { (s, d) =>
    val tau = lit(0.3).cast("double")
    val e = embeddings(s, d)
    val cents = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    val wOrd = Window.partitionBy(col("list_id")).orderBy(col("ccos"), col("vec_id"))
    // one quantizer pass feeds both self-join sides (listPairs' trick)
    val ranked = ivfAssign(e)
      .join(broadcast(cents), col("list_id") === col("c_id"))
      .withColumn("ccos", dot("emb", "c_emb") / (norm("emb") * norm("c_emb")))
      .withColumn("ord", row_number().over(wOrd))
      .select(col("vec_id"), col("list_id"), col("emb"), col("ccos"), col("ord"))
      .repartition(col("list_id"))
    val x = ranked.select(col("list_id"), col("vec_id"), col("emb"), col("ord"))
    val y = ranked.select(col("list_id"), col("vec_id").as("y_id"),
      col("emb").as("y_emb"), col("ord").as("y_ord"))
    val dropped = x.hint("shuffle_hash").join(y, Seq("list_id"))
      .where(col("y_ord") < col("ord") &&
        dot("emb", "y_emb") / (norm("emb") * norm("y_emb")) >= tau)
      .select(col("vec_id")).distinct()
    ranked
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"), col("ccos"),
        col("hit").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Index-tuning sweep: recall@5 and scan cost of the IVF index at
    * nprobe ∈ {1, 2, 4} against the exact brute-force answer — the
    * recall/cost curve an operator reads before fixing nprobe for a
    * deployment. One candidate pass covers every nprobe tier (a
    * candidate reached through list-rank r is eligible for every
    * nprobe ≥ r), the exact answer is v01's broadcast-probe scan, and
    * the report reduces to integer hit counts divided once — no
    * float-sum ordering anywhere. At 100 TB the sweep costs what the
    * largest tier costs: the corpus is scanned once for candidates
    * (list-key join) and once for the exact baseline. */
  private val v12 = QDef(
    "v12_nprobe_recall",
    s"""$sqlIvfCtes,
       |pr AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
       |probel AS (
       |  SELECT pr.q_id, c.c_id, pr.q_emb,
       |    ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
       |      ${sqlDot("pr.q_emb", "c.c_emb")} /
       |        (sqrt(${sqlDot("pr.q_emb", "pr.q_emb")}) * sqrt(${sqlDot("c.c_emb", "c.c_emb")})) DESC,
       |      c.c_id) AS cr
       |  FROM pr JOIN c ON true),
       |np AS (SELECT unnest([1, 2, 4]) AS n),
       |pl AS (SELECT np.n, probel.q_id, probel.c_id AS list_id, probel.q_emb
       |       FROM probel, np WHERE probel.cr <= np.n),
       |cand AS (
       |  SELECT pl.n, pl.q_id, a.vec_id,
       |    ${sqlDot("a.embedding", "pl.q_emb")} /
       |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("pl.q_emb", "pl.q_emb")})) AS sim
       |  FROM pl JOIN assign a ON a.list_id = pl.list_id
       |  WHERE a.vec_id <> pl.q_id),
       |itop AS (
       |  SELECT n, q_id, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY n, q_id ORDER BY sim DESC, vec_id) AS rank
       |    FROM cand) WHERE rank <= 5),
       |btop AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT pr.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
       |        ${sqlDot("e.embedding", "pr.q_emb")} /
       |          (sqrt(${sqlDot("e.embedding", "e.embedding")}) * sqrt(${sqlDot("pr.q_emb", "pr.q_emb")})) DESC,
       |        e.vec_id) AS rank
       |    FROM e JOIN pr ON e.vec_id <> pr.q_id) WHERE rank <= 5),
       |hits AS (
       |  SELECT n, COUNT(*) AS total_hits
       |  FROM itop JOIN btop USING (q_id, vec_id) GROUP BY n),
       |scanned AS (SELECT n, COUNT(*) AS cand_rows FROM cand GROUP BY n)
       |SELECT CAST(hits.n AS BIGINT) AS n_probe,
       |  CAST(total_hits AS BIGINT) AS total_hits,
       |  CAST(total_hits AS DOUBLE) / 50 AS mean_recall,
       |  CAST(cand_rows AS DOUBLE) / 10 AS mean_candidates
       |FROM hits JOIN scanned ON scanned.n = hits.n
       |ORDER BY n_probe""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = embeddings(s, d)
    val cents = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    val assign = ivfAssign(e)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qsim").desc, col("c_id"))
    val probeRanked = probes.crossJoin(broadcast(cents))
      .withColumn("qsim", dot("q_emb", "c_emb") / (norm("q_emb") * norm("c_emb")))
      .withColumn("cr", row_number().over(wProbe))
    val np = Seq(1, 2, 4).toDF("n")
    val pl = probeRanked.crossJoin(broadcast(np))
      .where(col("cr") <= col("n"))
      .select(col("n"), col("q_id"), col("c_id").as("list_id"), col("q_emb"))
    val cand = assign.join(broadcast(pl), Seq("list_id"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("emb", "q_emb") / (norm("emb") * norm("q_emb")))
      .select(col("n"), col("q_id"), col("vec_id"), col("sim"))
      .persistTracked()
    val itop = TopK.topK(cand, Seq("n", "q_id"), col("sim"), col("vec_id"),
        5, asc = false)
      .select(col("n"), col("q_id"), col("id").as("vec_id"))
    val bruteCand = e.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("emb", "q_emb") / (norm("emb") * norm("q_emb")))
    val btop = TopK.topK(bruteCand, Seq("q_id"), col("sim"), col("vec_id"),
        5, asc = false)
      .select(col("q_id"), col("id").as("vec_id"))
    val hits = itop.join(btop, Seq("q_id", "vec_id"))
      .groupBy(col("n")).agg(count(lit(1)).as("total_hits"))
    val scanned = cand.groupBy(col("n")).agg(count(lit(1)).as("cand_rows"))
    hits.join(scanned, Seq("n"))
      .select(col("n").cast("long").as("n_probe"),
        col("total_hits").cast("long").as("total_hits"),
        (col("total_hits").cast("double") / lit(50)).as("mean_recall"),
        (col("cand_rows").cast("double") / lit(10)).as("mean_candidates"))
      .orderBy(col("n_probe"))
  }

  /** Binary (sign-bit) embedding retrieval: each 64-dim vector packs
    * into two 32-bit sign words, and search is Hamming top-5 over
    * bit_count(xor) — the 32×-smaller "binary passage retrieval" path
    * where the corpus index is 8 bytes/vector and the distance is two
    * CPU popcounts. Integer-exact end to end (sign tests + bit ops, no
    * float arithmetic in the distance), so the DuckDB oracle packs the
    * identical words and reproduces the ranking bit-for-bit.
    *
    * Scale shape: the packed words are a one-pass projection (codegen'd
    * higher-order aggregate, no UDF); probes broadcast; the corpus
    * streams through one scan exactly like v01 but moving 8 bytes where
    * v01 moves 512. At 100 TB this is the cheap first-pass retriever
    * that feeds v09's ADC or v01-style exact re-ranking. */
  private val v13 = {
    def packSql(col: String, w: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 32),
         |    i -> CASE WHEN $col[$w * 32 + i + 1] < 0
         |              THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
    def packE(w: Int): String =
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + IF(element_at(emb, $w * 32 + i + 1) < CAST(0 AS DOUBLE),
         |                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin
    QDef(
      "v13_hamming_knn",
      s"""WITH b AS (
         |  SELECT vec_id, ${packSql("embedding", 0)} AS w0, ${packSql("embedding", 1)} AS w1
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS INTEGER) AS hamming
         |  FROM b q JOIN b c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS rank FROM p)
         |SELECT q_id, vec_id, hamming, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      val b = embeddings(s, d)
        .select(col("vec_id"), expr(packE(0)).as("w0"), expr(packE(1)).as("w1"))
      val probes = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
      val cand = b.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .withColumn("hamming",
          (bit_count(col("w0").bitwiseXOR(col("q0"))) +
            bit_count(col("w1").bitwiseXOR(col("q1")))).cast("int"))
      TopK.topK(cand, Seq("q_id"), col("hamming"), col("vec_id"), 5, asc = true)
        .select(col("q_id"), col("id").as("vec_id"),
          col("ordv").cast("int").as("hamming"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }
  }

  /** Two-stage retrieval — the production composition of v13 and v01:
    * stage 1 scans the corpus with 8-byte binary codes and keeps the
    * Hamming top-50 candidates per probe; stage 2 fetches full vectors
    * for the candidates ONLY (a vec_id-keyed rejoin — full embeddings
    * never ride the candidate shuffle) and re-ranks by exact cosine to
    * the final top-5. At 100 TB the expensive float math touches
    * 50×probes rows while the corpus pass moves two BIGINT words per
    * vector; the top-50 window shuffles only (q_id, vec_id, hamming).
    * Everything downstream of the integer prefilter is v01's exact
    * arithmetic, so the whole cascade is oracle-exact. */
  private val v14 = {
    def packSql(col: String, w: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 32),
         |    i -> CASE WHEN $col[$w * 32 + i + 1] < 0
         |              THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
    def packE(w: Int): String =
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + IF(element_at(emb, $w * 32 + i + 1) < CAST(0 AS DOUBLE),
         |                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin
    QDef(
      "v14_binary_rerank",
      s"""WITH b AS (
         |  SELECT vec_id, ${packSql("embedding", 0)} AS w0, ${packSql("embedding", 1)} AS w1
         |  FROM embeddings),
         |h AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS INTEGER) AS hamming
         |  FROM b q JOIN b c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |cand AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS rn
         |  FROM h),
         |ce AS (
         |  SELECT cand.q_id, cand.vec_id, cand.hamming,
         |    ${sqlDot("ce.embedding", "qe.embedding")} /
         |      (sqrt(${sqlDot("qe.embedding", "qe.embedding")}) * sqrt(${sqlDot("ce.embedding", "ce.embedding")})) AS sim
         |  FROM cand
         |    JOIN embeddings ce ON ce.vec_id = cand.vec_id
         |    JOIN embeddings qe ON qe.vec_id = cand.q_id
         |  WHERE cand.rn <= 50),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM ce)
         |SELECT q_id, vec_id, hamming, sim, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      val e = embeddings(s, d)
      val b = e.select(col("vec_id"), expr(packE(0)).as("w0"), expr(packE(1)).as("w1"))
      val probesB = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
      val hamCand = b.join(broadcast(probesB), col("vec_id") =!= col("q_id"))
        .withColumn("hamming",
          (bit_count(col("w0").bitwiseXOR(col("q0"))) +
            bit_count(col("w1").bitwiseXOR(col("q1")))).cast("int"))
      val cand = TopK.topK(hamCand, Seq("q_id"), col("hamming"),
          col("vec_id"), 50, asc = true)
        .select(col("q_id"), col("id").as("vec_id"),
          col("ordv").cast("int").as("hamming"))
      val qe = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val reranked = cand
        .join(e.select(col("vec_id"), col("emb")), Seq("vec_id"))
        .join(broadcast(qe), Seq("q_id"))
        .withColumn("sim", dot("emb", "q_emb") / (norm("q_emb") * norm("emb")))
      TopK.topK(reranked, Seq("q_id"), col("sim"), col("vec_id"), 5,
          asc = false, extra = col("hamming"))
        .select(col("q_id"), col("id").as("vec_id"),
          col("extra").cast("int").as("hamming"), col("ordv").as("sim"),
          col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }
  }

  /** IVF+PQ (the faiss IVFPQ shape — Jégou 2011): the coarse quantizer
    * restricts each query to its nprobe=2 inverted lists (v05's
    * machinery) and ranking inside the probed lists uses PQ
    * asymmetric distance (v09's 8×8 codebook LUT) instead of exact
    * float math — the index layout production ANN serves from, where
    * the corpus stores 8 single-byte codes per vector and a probe
    * touches nprobe/K of the corpus with table lookups only.
    *
    * Scale shape: codes + list assignment are one-pass projections;
    * the probe join shuffles on the list key; the ADC join touches
    * candidate rows only, with the (tiny, 10×8×4-row) LUT broadcast.
    * Every distance is a decimal-exact sum of 8 LUT doubles, so the
    * full cascade replays in DuckDB bit-for-bit. */
  private val v15 = {
    def sqlL2(a: String, b: String) =
      s"""list_sum(list_transform(range(1, 9),
         |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
         |           (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
    QDef(
      "v15_ivfpq_knn",
      s"""$sqlIvfCtes,
         |pr AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
         |probel AS (
         |  SELECT pr.q_id, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
         |      ${sqlDot("pr.q_emb", "c.c_emb")} /
         |        (sqrt(${sqlDot("pr.q_emb", "pr.q_emb")}) * sqrt(${sqlDot("c.c_emb", "c.c_emb")})) DESC,
         |      c.c_id) AS cr
         |  FROM pr JOIN c ON true),
         |pl AS (SELECT q_id, c_id AS list_id FROM probel WHERE cr <= 2),
         |cb AS (
         |  SELECT cv.vec_id - 100 AS pc, r.m AS m,
         |    cv.embedding[r.m * 8 + 1 : r.m * 8 + 8] AS cvec
         |  FROM e cv, range(0, 8) r(m) WHERE cv.vec_id BETWEEN 100 AND 103),
         |sub AS (
         |  SELECT vec_id, r.m AS m, embedding[r.m * 8 + 1 : r.m * 8 + 8] AS svec
         |  FROM e, range(0, 8) r(m)),
         |dist AS (
         |  SELECT s.vec_id, s.m, cb.pc,
         |    ${sqlL2("s.svec", "cb.cvec")} AS d2
         |  FROM sub s JOIN cb ON s.m = cb.m),
         |code AS (
         |  SELECT vec_id, m, pc FROM (
         |    SELECT vec_id, m, pc,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, pc) AS rn
         |    FROM dist) WHERE rn = 1),
         |lut AS (SELECT vec_id AS q_id, m, pc, d2 FROM dist WHERE vec_id < 10),
         |cand AS (
         |  SELECT pl.q_id, a.vec_id, a.list_id
         |  FROM pl JOIN assign a ON a.list_id = pl.list_id
         |  WHERE a.vec_id <> pl.q_id),
         |adc AS (
         |  SELECT cand.q_id, cand.vec_id, cand.list_id,
         |    CAST(SUM(CAST(lut.d2 AS DECIMAL(30,6))) AS DOUBLE) AS adc_d2
         |  FROM cand
         |    JOIN code ON code.vec_id = cand.vec_id
         |    JOIN lut ON lut.q_id = cand.q_id AND lut.m = code.m AND lut.pc = code.pc
         |  GROUP BY cand.q_id, cand.vec_id, cand.list_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rank FROM adc)
         |SELECT q_id, vec_id, list_id, adc_d2, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      val e = embeddings(s, d)
      val assign = ivfAssign(e).select(col("vec_id"), col("list_id"))
      val cents = e.filter(col("vec_id").between(100, 107))
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qsim").desc, col("c_id"))
      val pl = probes.crossJoin(broadcast(cents))
        .withColumn("qsim", dot("q_emb", "c_emb") / (norm("q_emb") * norm("c_emb")))
        .withColumn("cr", row_number().over(wProbe))
        .filter(col("cr") <= 2)
        .select(col("q_id"), col("c_id").as("list_id"))
      val (code, lut) = pqCodes(e)
      val cand = assign.join(broadcast(pl), Seq("list_id"))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("list_id"))
      val adc = cand
        .join(code, Seq("vec_id"))
        .join(broadcast(lut), Seq("q_id", "m", "c"))
        .groupBy(col("q_id"), col("vec_id"), col("list_id"))
        .agg(dsum(col("d2")).as("adc_d2"))
      TopK.topK(adc, Seq("q_id"), col("adc_d2"), col("vec_id"), 5,
          asc = true, extra = col("list_id"))
        .select(col("q_id"), col("id").as("vec_id"),
          col("extra").as("list_id"), col("ordv").as("adc_d2"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }
  }

  /** Matryoshka truncation audit (MRL, Kusupati 2022): recall@5 of
    * cosine retrieval over the first 8/16/32 components against the
    * exact full-64-dim answer — the measurement behind "serve the
    * 4×-smaller prefix embedding". Same report shape as v12's nprobe
    * sweep: one brute-force pass per tier (it's an audit, run on a
    * sample in production), integer hit counts, one division per row,
    * so the whole report is oracle-exact. */
  private val v16 = {
    def sqlPDot(a: String, b: String, d: Int): String =
      s"list_sum(list_transform(range(1, ${d + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def sqlPCos(a: String, b: String, d: Int): String =
      s"""${sqlPDot(a, b, d)} /
         |      (sqrt(${sqlPDot(a, a, d)}) * sqrt(${sqlPDot(b, b, d)}))""".stripMargin
    def sqlTier(d: Int): String =
      s"""  SELECT $d AS dim, q_id, vec_id FROM (
         |    SELECT pr.q_id, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
         |        ${sqlPCos("e.embedding", "pr.q_emb", d)} DESC, e.vec_id) AS rank
         |    FROM e JOIN pr ON e.vec_id <> pr.q_id) WHERE rank <= 5""".stripMargin
    QDef(
      "v16_matryoshka_recall",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |pr AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
         |btop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT pr.q_id, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
         |        ${sqlPCos("e.embedding", "pr.q_emb", 64)} DESC, e.vec_id) AS rank
         |    FROM e JOIN pr ON e.vec_id <> pr.q_id) WHERE rank <= 5),
         |ttop AS (
         |${sqlTier(8)}
         |  UNION ALL
         |${sqlTier(16)}
         |  UNION ALL
         |${sqlTier(32)})
         |SELECT CAST(ttop.dim AS INTEGER) AS dim,
         |  CAST(COUNT(btop.q_id) AS BIGINT) AS total_hits,
         |  CAST(COUNT(btop.q_id) AS DOUBLE) / 50 AS mean_recall
         |FROM ttop LEFT JOIN btop
         |  ON btop.q_id = ttop.q_id AND btop.vec_id = ttop.vec_id
         |GROUP BY ttop.dim ORDER BY dim""".stripMargin) { (s, d) =>
      val e = embeddings(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      def tier(dim: Int): DataFrame = {
        val cand = e.join(broadcast(probes), col("vec_id") =!= col("q_id"))
          .withColumn("sim",
            expr(s"dot_fold(slice(emb, 1, $dim), slice(q_emb, 1, $dim))") /
              (sqrt(expr(s"dot_fold(slice(q_emb, 1, $dim), slice(q_emb, 1, $dim))")) *
                sqrt(expr(s"dot_fold(slice(emb, 1, $dim), slice(emb, 1, $dim))"))))
        TopK.topK(cand, Seq("q_id"), col("sim"), col("vec_id"), 5, asc = false)
          .select(lit(dim).as("dim"), col("q_id"), col("id").as("vec_id"))
      }
      val btop = tier(64).select(col("q_id"), col("vec_id"))
      val ttop = tier(8).union(tier(16)).union(tier(32))
      ttop.join(btop.withColumnRenamed("vec_id", "b_vec")
          .withColumnRenamed("q_id", "b_q"),
          col("b_q") === col("q_id") && col("b_vec") === col("vec_id"), "left")
        .groupBy(col("dim"))
        .agg(count(col("b_q")).as("total_hits"))
        .select(col("dim").cast("int").as("dim"),
          col("total_hits").cast("long").as("total_hits"),
          (col("total_hits").cast("double") / lit(50)).as("mean_recall"))
        .orderBy(col("dim"))
    }
  }

  /** int8-quantized retrieval with a per-candidate exactness flag —
    * v08's storage path actually SERVING queries: vectors quantize to
    * symmetric int8 (scale 127/max|x|), candidates rank by the
    * quantized cosine, and each returned neighbor is flagged against
    * the exact float top-5. The per-vector scales CANCEL in the cosine
    * (dot_int/(√dot_int·√dot_int)), so every ranking input is an exact
    * BIGINT and the score is one IEEE division of integer-derived
    * doubles — bit-reproducible in DuckDB with no decimal machinery.
    *
    * Scale shape: v01's broadcast-probe scan geometry, but the corpus
    * side moves 64 bytes of codes instead of 512 bytes of doubles and
    * the dot is integer multiply-add (the SIMD int8 path on real
    * hardware); the top-k is the two-level [[graft.operators.TopK]]
    * aggregate; the audit join touches 5×|probes| rows. */
  private val v17 = {
    def iDot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
    QDef(
      "v17_int8_knn",
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |q8 AS (
         |  SELECT vec_id,
         |    list_transform(emb, x -> CAST(round(x * (CAST(127 AS DOUBLE) / amax)) AS BIGINT)) AS q
         |  FROM e WHERE amax > 0),
         |p AS (
         |  SELECT a.vec_id AS q_id, c.vec_id AS vec_id,
         |    CAST(${iDot("a.q", "c.q")} AS DOUBLE) /
         |      (sqrt(CAST(${iDot("a.q", "a.q")} AS DOUBLE)) * sqrt(CAST(${iDot("c.q", "c.q")} AS DOUBLE))) AS sim8
         |  FROM q8 a JOIN q8 c ON a.vec_id < 10 AND c.vec_id <> a.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim8 DESC, vec_id) AS rank FROM p),
         |bt AS (SELECT q_id, vec_id FROM (
         |    SELECT fq.vec_id AS q_id, fc.vec_id AS vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY fq.vec_id ORDER BY
         |        ${sqlDot("fc.embedding", "fq.embedding")} /
         |          (sqrt(${sqlDot("fq.embedding", "fq.embedding")}) * sqrt(${sqlDot("fc.embedding", "fc.embedding")})) DESC,
         |        fc.vec_id) AS rank
         |    FROM embeddings fq JOIN embeddings fc
         |      ON fq.vec_id < 10 AND fc.vec_id <> fq.vec_id) WHERE rank <= 5)
         |SELECT r.q_id, r.vec_id, r.sim8, CAST(r.rank AS INTEGER) AS rank,
         |  (bt.vec_id IS NOT NULL) AS in_exact_top5
         |FROM r LEFT JOIN bt ON bt.q_id = r.q_id AND bt.vec_id = r.vec_id
         |WHERE r.rank <= 5 ORDER BY r.q_id, r.rank""".stripMargin) { (s, d) =>
      val e = embeddings(s, d)
        .withColumn("amax", expr("array_max(transform(emb, x -> abs(x)))"))
      val q8 = e.where(col("amax") > 0).select(col("vec_id"), expr(
        "transform(emb, x -> CAST(round(x * (CAST(127 AS DOUBLE) / amax)) AS BIGINT))")
        .as("q"))
      val probes8 = q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("q").as("qq"))
      def iFold(a: String, b: String) =
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
      val cand = q8.join(broadcast(probes8), col("vec_id") =!= col("q_id"))
        .withColumn("sim8",
          expr(iFold("q", "qq")).cast("double") /
            (sqrt(expr(iFold("qq", "qq")).cast("double")) *
              sqrt(expr(iFold("q", "q")).cast("double"))))
      val top8 = TopK.topK(cand, Seq("q_id"), col("sim8"), col("vec_id"), 5,
        asc = false)
      val probesF = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val bruteCand = e.join(broadcast(probesF), col("vec_id") =!= col("q_id"))
        .withColumn("sim", dot("emb", "q_emb") / (norm("q_emb") * norm("emb")))
      val bt = TopK.topK(bruteCand, Seq("q_id"), col("sim"), col("vec_id"), 5,
          asc = false)
        .select(col("q_id"), col("id").as("vec_id")).withColumn("hit", lit(true))
      top8
        .select(col("q_id"), col("id").as("vec_id"), col("ordv").as("sim8"),
          col("rank"))
        .join(bt, Seq("q_id", "vec_id"), "left")
        .select(col("q_id"), col("vec_id"), col("sim8"), col("rank"),
          coalesce(col("hit"), lit(false)).as("in_exact_top5"))
        .orderBy(col("q_id"), col("rank"))
    }
  }

  /** IVF list-balance audit — the operational health check behind
    * v05/v15's efficiency claims: per-list vector count and load factor
    * (n_vecs · n_lists / total, so 1.0 = perfectly balanced). A skewed
    * quantizer (hot list ≫ 1.0) is exactly what turns an IVF probe into
    * a straggler task at 100 TB, and re-training (v07) or splitting is
    * the fix — this query is the monitor that triggers it.
    *
    * Scale shape: the coarse assignment is a broadcast of k centroids
    * against the corpus (one pass), then ONE k-row aggregate — the
    * audit costs no more than the index build it audits. The load
    * factor is integer counts with one IEEE division, so the oracle
    * matches bit-exactly. */
  private val v18 = QDef(
    "v18_ivf_balance",
    s"""$sqlIvfCtes,
       |ls AS (SELECT list_id, count(*) AS n_vecs FROM assign GROUP BY list_id)
       |SELECT CAST(list_id AS BIGINT) AS list_id, CAST(n_vecs AS BIGINT) AS n_vecs,
       |  CAST(n_vecs * (SELECT count(*) FROM ls) AS DOUBLE) /
       |    (SELECT sum(n_vecs) FROM ls) AS load_factor
       |FROM ls ORDER BY list_id""".stripMargin) { (s, d) =>
    val ls = ivfAssign(embeddings(s, d))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vecs"))
      .persistTracked()
    val tot = ls.agg(sum(col("n_vecs")).as("total"),
      count(lit(1)).as("n_lists"))
    ls.crossJoin(broadcast(tot))
      .select(col("list_id").cast("long").as("list_id"),
        col("n_vecs"),
        ((col("n_vecs") * col("n_lists")).cast("double") / col("total"))
          .as("load_factor"))
      .orderBy(col("list_id"))
  }

  /** PQ serving-quality audit — closes v09/v15's measurement loop with
    * the standard two-stage serving numbers: per probe, recall@5 vs the
    * exact-L2 ground truth for (a) the raw ADC ranking and (b) the
    * production shape, ADC shortlist@20 → exact rerank → top-5. The
    * rerank pool contains the ADC top-5, so rerank_hits ≥ adc_hits per
    * probe by construction (asserted in spec); the gap between the two
    * columns is exactly what a shortlist buys — the number a serving
    * team reads before sizing it.
    *
    * Scale shape: everything beyond v09's machinery touches only
    * k·|probes| rows (shortlists and their exact distances); the exact
    * ground truth is the v01 brute-force pass with broadcast probes —
    * the audit, like v12/v16, costs one corpus scan more than the index
    * it audits. All distances are left-to-right IEEE folds, hits are
    * integer counts, recall is ONE division — bit-exact oracle. */
  private val v19 = QDef(
    "v19_pq_recall_audit", {
      def l2full(a: String, b: String) =
        s"""list_sum(list_transform(range(1, 65),
           |  i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
           |       (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
      s"""$sqlPqCtes,
         |pr AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
         |short AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rk
         |    FROM adc) WHERE rk <= 20),
         |rr AS (
         |  SELECT s.q_id, s.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY s.q_id ORDER BY
         |      ${l2full("e.embedding", "pr.q_emb")}, s.vec_id) AS rk
         |  FROM short s JOIN e ON e.vec_id = s.vec_id JOIN pr ON pr.q_id = s.q_id),
         |rtop AS (SELECT q_id, vec_id FROM rr WHERE rk <= 5),
         |itop AS (SELECT q_id, vec_id FROM r WHERE rank <= 5),
         |btop AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT pr.q_id, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
         |        ${l2full("e.embedding", "pr.q_emb")}, e.vec_id) AS rank
         |    FROM e JOIN pr ON e.vec_id <> pr.q_id) WHERE rank <= 5),
         |h1 AS (SELECT itop.q_id, count(*) AS n FROM itop JOIN btop USING (q_id, vec_id) GROUP BY 1),
         |h2 AS (SELECT rtop.q_id, count(*) AS n FROM rtop JOIN btop USING (q_id, vec_id) GROUP BY 1)
         |SELECT pr.q_id,
         |  CAST(coalesce(h1.n, 0) AS BIGINT) AS adc_hits,
         |  CAST(coalesce(h2.n, 0) AS BIGINT) AS rerank_hits,
         |  CAST(coalesce(h1.n, 0) AS DOUBLE) / 5 AS adc_recall,
         |  CAST(coalesce(h2.n, 0) AS DOUBLE) / 5 AS rerank_recall
         |FROM pr LEFT JOIN h1 ON pr.q_id = h1.q_id
         |        LEFT JOIN h2 ON pr.q_id = h2.q_id
         |ORDER BY pr.q_id""".stripMargin
    }) { (s, d) =>
    val e = embeddings(s, d).select(col("vec_id"), col("emb"))
    val pr = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val l2full = "aggregate(zip_with(emb, q_emb, (a, b) -> (a - b) * (a - b)), " +
      "0D, (acc, x) -> acc + x)"
    val adc = pqAdc(s, d).persistTracked()
    val short = TopK.topK(adc, Seq("q_id"), col("adc_d2"), col("vec_id"), 20,
        asc = true)
      .select(col("q_id"), col("id").as("vec_id"))
    val rtop = TopK.topK(
        short.join(e, Seq("vec_id")).join(broadcast(pr), Seq("q_id"))
          .withColumn("d2", expr(l2full)),
        Seq("q_id"), col("d2"), col("vec_id"), 5, asc = true)
      .select(col("q_id"), col("id").as("vec_id"))
    val itop = TopK.topK(adc, Seq("q_id"), col("adc_d2"), col("vec_id"), 5,
        asc = true)
      .select(col("q_id"), col("id").as("vec_id"))
    val btop = TopK.topK(
        e.crossJoin(broadcast(pr)).where(col("vec_id") =!= col("q_id"))
          .withColumn("d2", expr(l2full)),
        Seq("q_id"), col("d2"), col("vec_id"), 5, asc = true)
      .select(col("q_id"), col("id").as("vec_id"))
    def hits(top: DataFrame, name: String): DataFrame =
      top.join(btop, Seq("q_id", "vec_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as(name))
    pr.select(col("q_id"))
      .join(hits(itop, "h1"), Seq("q_id"), "left")
      .join(hits(rtop, "h2"), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("h1"), lit(0L)).as("adc_hits"),
        coalesce(col("h2"), lit(0L)).as("rerank_hits"),
        (coalesce(col("h1"), lit(0L)).cast("double") / 5).as("adc_recall"),
        (coalesce(col("h2"), lit(0L)).cast("double") / 5).as("rerank_recall"))
      .orderBy(col("q_id"))
  }

  /** kNN label-agreement audit — the embedding-space label-coherence /
    * mislabel detector: for a 50-vector probe sample, what fraction of
    * each probe's 5 exact cosine neighbors share its label. agreement ≈
    * 1/|labels| means the labels carry no embedding-space signal (this
    * fixture's honest verdict: random embeddings); a per-item
    * agreement of 0 in a corpus with real structure flags a suspect
    * label. The audit behind "can we trust these labels for
    * classifier-style filtering?".
    *
    * Scale shape: v01's broadcast-probe brute-force pass (probe count
    * is the explicit cost knob — the corpus is scanned once, never
    * self-joined) + a label join on the 250 neighbor rows + the
    * two-level TopK. One division per probe. */
  private val v20 = QDef(
    "v20_label_agreement",
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |pr AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |       FROM e WHERE vec_id < 50),
       |top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT pr.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY pr.q_id ORDER BY
       |        ${sqlDot("e.embedding", "pr.q_emb")} /
       |          (sqrt(${sqlDot("e.embedding", "e.embedding")}) * sqrt(${sqlDot("pr.q_emb", "pr.q_emb")})) DESC,
       |        e.vec_id) AS rank
       |    FROM e JOIN pr ON e.vec_id <> pr.q_id) WHERE rank <= 5),
       |ag AS (
       |  SELECT top.q_id, count(*) FILTER (e.label = pr.q_label) AS n_agree
       |  FROM top JOIN e ON top.vec_id = e.vec_id JOIN pr ON top.q_id = pr.q_id
       |  GROUP BY top.q_id)
       |SELECT pr.q_id, CAST(pr.q_label AS INTEGER) AS label,
       |  CAST(coalesce(ag.n_agree, 0) AS BIGINT) AS n_agree,
       |  CAST(coalesce(ag.n_agree, 0) AS DOUBLE) / 5 AS agreement,
       |  (coalesce(ag.n_agree, 0) = 0) AS suspect
       |FROM pr LEFT JOIN ag ON pr.q_id = ag.q_id ORDER BY pr.q_id""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
    val pr = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("label").as("q_label"))
    val top = TopK.topK(
        e.crossJoin(broadcast(pr)).where(col("vec_id") =!= col("q_id"))
          .withColumn("sim", dot("emb", "q_emb") / (norm("emb") * norm("q_emb"))),
        Seq("q_id"), col("sim"), col("vec_id"), 5, asc = false)
      .select(col("q_id"), col("id").as("vec_id"))
    val ag = top
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .join(pr.select(col("q_id"), col("q_label")), Seq("q_id"))
      .groupBy(col("q_id"))
      .agg(sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
        .as("n_agree"))
    pr.select(col("q_id"), col("q_label"))
      .join(ag, Seq("q_id"), "left")
      .select(col("q_id"), col("q_label").cast("int").as("label"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"),
        (coalesce(col("n_agree"), lit(0L)).cast("double") / 5).as("agreement"),
        (coalesce(col("n_agree"), lit(0L)) === 0).as("suspect"))
      .orderBy(col("q_id"))
  }

  /** Per-label centroid shift audit — the embedding distribution-drift
    * monitor: split the corpus into two ingest batches (vec_id parity
    * here; in production, yesterday's snapshot vs today's), compute
    * each label's centroid in each batch, and report the cosine
    * between the two half-centroids plus their norms. A centroid_cos
    * near 0 on random embeddings (this fixture's honest answer) or a
    * sudden drop on real ones is the "retrain / re-embed" alarm that
    * gates incremental index appends (v05's append path).
    *
    * Scale shape: one (label, batch, dim) two-level aggregate —
    * map-side combined partial sums, K×2×D result rows — then a
    * K-row self-join; the corpus is scanned once and nothing pairwise
    * ever ships. Determinism: per-dim means are exact decimal sums
    * ([[graft.util.Det.dsum]]) divided once in double (the v07
    * k-means pattern), and the cosine is the sequential [[dot]] fold
    * over those bit-identical means. */
  private val v21 = QDef(
    "v21_label_centroid_shift",
    s"""WITH e AS (SELECT vec_id, label, vec_id % 2 AS batch, embedding FROM embeddings),
       |m AS (SELECT label, batch, list(m ORDER BY j) AS c_emb, max(cnt) AS n FROM (
       |        SELECT e.label, e.batch, r.j,
       |          ${sqlDsum("CAST(e.embedding[r.j] AS DOUBLE)")} / COUNT(*) AS m,
       |          COUNT(*) AS cnt
       |        FROM e, range(1, 65) r(j) GROUP BY e.label, e.batch, r.j)
       |      GROUP BY label, batch),
       |a AS (SELECT label, c_emb, n FROM m WHERE batch = 0),
       |b AS (SELECT label, c_emb, n FROM m WHERE batch = 1)
       |SELECT CAST(a.label AS INTEGER) AS label, CAST(a.n AS BIGINT) AS n_even,
       |  CAST(b.n AS BIGINT) AS n_odd,
       |  sqrt(${sqlDot("a.c_emb", "a.c_emb")}) AS norm_even,
       |  sqrt(${sqlDot("b.c_emb", "b.c_emb")}) AS norm_odd,
       |  ${sqlDot("a.c_emb", "b.c_emb")} /
       |    (sqrt(${sqlDot("a.c_emb", "a.c_emb")}) * sqrt(${sqlDot("b.c_emb", "b.c_emb")})) AS centroid_cos
       |FROM a JOIN b USING (label) ORDER BY label""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
      .select(col("label"), (col("vec_id") % 2).as("batch"), col("emb"))
    val m = e
      .select(col("label"), col("batch"), posexplode(col("emb")).as(Seq("j", "x")))
      .groupBy(col("label"), col("batch"), col("j"))
      .agg((dsum(col("x")) / count(lit(1))).as("m"), count(lit(1)).as("cnt"))
      .groupBy(col("label"), col("batch"))
      .agg(expr("transform(array_sort(collect_list(struct(j, m))), s -> s.m)")
        .as("c_emb"), max(col("cnt")).as("n"))
    val a = m.filter(col("batch") === 0)
      .select(col("label"), col("c_emb").as("a_emb"), col("n").as("n_even"))
    val b = m.filter(col("batch") === 1)
      .select(col("label"), col("c_emb").as("b_emb"), col("n").as("n_odd"))
    a.join(b, Seq("label"))
      .select(col("label").cast("int").as("label"),
        col("n_even"), col("n_odd"),
        norm("a_emb").as("norm_even"), norm("b_emb").as("norm_odd"),
        (dot("a_emb", "b_emb") / (norm("a_emb") * norm("b_emb")))
          .as("centroid_cos"))
      .orderBy(col("label"))
  }

  /** Quantizer churn audit — the "is retraining worth re-sharding the
    * index" report: assign every vector to (a) the fixed-seed coarse
    * quantizer v05 serves with and (b) the k-means-trained quantizer
    * after v07's two Lloyd rounds plus a final assignment, then per
    * trained list report how many members changed lists. High churn
    * on a list means a trained deploy invalidates its cached
    * postings and the re-embed/re-shard cost is real; near-zero
    * churn says keep serving the fixed quantizer.
    *
    * Scale shape: v07's distributed Lloyd machinery (each round =
    * one K×D broadcast + one corpus scan, decimal-exact means) plus
    * one extra broadcast-assign pass and a vec_id-keyed join of the
    * two bounded assignment tables; nothing pairwise, driver holds
    * only K×D centroids. */
  private val v22 = QDef(
    "v22_quantizer_churn",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |       WHERE vec_id BETWEEN 100 AND 107),
       |${sqlKmAssign("c0", "a0")},
       |${sqlKmUpdate("a0", "c1")},
       |${sqlKmAssign("c1", "a2x")},
       |${sqlKmUpdate("a2x", "c2")},
       |${sqlKmAssign("c2", "af")},
       |j AS (SELECT a0.vec_id, a0.c_id AS fixed_list, af.c_id AS trained_list
       |      FROM a0 JOIN af USING (vec_id))
       |SELECT trained_list AS list_id, count(*) AS n_trained,
       |  CAST(sum(CASE WHEN fixed_list <> trained_list THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
       |  CAST(sum(CASE WHEN fixed_list <> trained_list THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS churn
       |FROM j GROUP BY trained_list ORDER BY trained_list""".stripMargin) { (s, d) =>
    val e = embeddings(s, d).select(col("vec_id"), col("emb"))
    // per-row argmax over the broadcast centroid array (see ivfAssign):
    // each of the THREE assignment passes drops its corpus-wide
    // crossJoin fan-out + rank window for a map over the scan
    def assign(c: DataFrame): DataFrame =
      e.crossJoin(broadcast(centArr(c)))
        .select(col("vec_id"), nearestCid.as("c_id"), col("emb"))
    def update(a: DataFrame): DataFrame = a
      .select(col("c_id"), posexplode(col("emb")).as(Seq("j", "x")))
      .groupBy(col("c_id"), col("j"))
      .agg((dsum(col("x")) / count(lit(1))).as("m"))
      .groupBy(col("c_id"))
      .agg(expr("transform(array_sort(collect_list(struct(j, m))), s -> s.m)")
        .as("c_emb"))
    val seeds = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    var a = assign(seeds)
    val a0 = a.persistTracked()
    a = a0
    for (_ <- 1 to 2) a = assign(update(a))
    a0.select(col("vec_id"), col("c_id").as("fixed_list"))
      .join(a.select(col("vec_id"), col("c_id").as("trained_list")),
        Seq("vec_id"))
      .groupBy(col("trained_list").as("list_id"))
      .agg(count(lit(1)).as("n_trained"),
        sum(when(col("fixed_list") =!= col("trained_list"), 1L).otherwise(0L))
          .as("n_moved_in"))
      .withColumn("churn",
        col("n_moved_in").cast("double") / col("n_trained"))
      .orderBy(col("list_id"))
  }

  /** Hybrid-retrieval rank fusion (reciprocal rank fusion, Cormack
    * 2009): fuse the exact-cosine top-20 (v01's retriever) with the
    * binary sign-bit hamming top-20 (v13's retriever) per probe —
    * rrf = 1/(60 + cos_rank) + 1/(60 + ham_rank), absent list
    * contributes 0 — and keep the fused top-10. The standard
    * dense + cheap-binary hybrid a retrieval pipeline runs when the
    * two retrievers disagree on recall. Every score is a sum of two
    * integer-ratio IEEE divisions in a fixed order — bit-equal across
    * engines, no ln, no order-dependent float aggregation.
    *
    * Scale shape: both rank lists are per-probe bounded (top-20), so
    * the fusion join and final top-k touch ≤40 rows per probe — the
    * expensive parts are the two retrievers, each already scale-shaped
    * (one broadcast scan; one sign-pack scan). */
  private val v23 = {
    def packSql(col: String, w: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 32),
         |    i -> CASE WHEN $col[$w * 32 + i + 1] < 0
         |              THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
    def packE(w: Int): String =
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + IF(element_at(emb, $w * 32 + i + 1) < CAST(0 AS DOUBLE),
         |                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin
    QDef(
      "v23_hybrid_rrf",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${sqlDot("q.embedding", "c.embedding")} /
         |      (sqrt(${sqlDot("q.embedding", "q.embedding")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |cr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS cr
         |       FROM cp),
         |ctop AS (SELECT q_id, vec_id, CAST(cr AS INTEGER) AS cr FROM cr WHERE cr <= 20),
         |b AS (
         |  SELECT vec_id, ${packSql("embedding", 0)} AS w0, ${packSql("embedding", 1)} AS w1
         |  FROM e),
         |hp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS INTEGER) AS hamming
         |  FROM b q JOIN b c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |hr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS hr
         |       FROM hp),
         |htop AS (SELECT q_id, vec_id, CAST(hr AS INTEGER) AS hr FROM hr WHERE hr <= 20),
         |fused AS (
         |  SELECT coalesce(c.q_id, h.q_id) AS q_id, coalesce(c.vec_id, h.vec_id) AS vec_id,
         |    c.cr, h.hr,
         |    coalesce(1.0 / (60.0 + CAST(c.cr AS DOUBLE)), 0.0) +
         |      coalesce(1.0 / (60.0 + CAST(h.hr AS DOUBLE)), 0.0) AS rrf
         |  FROM ctop c FULL JOIN htop h ON c.q_id = h.q_id AND c.vec_id = h.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id) AS rank FROM fused)
         |SELECT q_id, vec_id, cr, hr, rrf, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      val e = embeddings(s, d)
      // dense retriever: exact cosine top-20 (v01's shape)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val cosCand = e.join(broadcast(probes), col("vec_id") =!= col("q_id"))
        .withColumn("sim", dot("emb", "q_emb") / (norm("q_emb") * norm("emb")))
      val cosTop = TopK.topK(cosCand, Seq("q_id"), col("sim"), col("vec_id"), 20,
          asc = false)
        .select(col("q_id"), col("id").as("vec_id"), col("rank").cast("int").as("cr"))
      // binary retriever: sign-bit hamming top-20 (v13's shape)
      val b = e.select(col("vec_id"), expr(packE(0)).as("w0"), expr(packE(1)).as("w1"))
      val bProbes = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
      val hamCand = b.join(broadcast(bProbes), col("vec_id") =!= col("q_id"))
        .withColumn("hamming",
          (bit_count(col("w0").bitwiseXOR(col("q0"))) +
            bit_count(col("w1").bitwiseXOR(col("q1")))).cast("int"))
      val hamTop = TopK.topK(hamCand, Seq("q_id"), col("hamming"), col("vec_id"), 20,
          asc = true)
        .select(col("q_id"), col("id").as("vec_id"), col("rank").cast("int").as("hr"))
      val wF = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("vec_id"))
      cosTop.join(hamTop, Seq("q_id", "vec_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("cr").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("hr").cast("double")), lit(0.0)))
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("vec_id"), col("cr"), col("hr"), col("rrf"),
          col("rank").cast("int").as("rank"))
        .orderBy(col("q_id"), col("rank"))
    }
  }

  /** Johnson-Lindenstrauss sign-projection audit: project 64-d
    * embeddings to 16-d with a fixed ±1 matrix (the Achlioptas 2003
    * database-friendly JL variant) and measure, for every probe pair,
    * how far the 16-d cosine drifts from the 64-d cosine — the
    * dimensionality-reduction quality gate run before committing a
    * corpus to a cheaper index. The matrix is an index parameter
    * (splitmix64-derived signs), injected as literals on both engines
    * like v03's hyperplanes; every projection is one fused left-fold
    * dot, so both engines produce bit-identical doubles.
    *
    * Scale shape: projection is per-row expression work (16 fused
    * folds) — embarrassingly parallel; the pair audit runs on the
    * bounded probe set only, never corpus×corpus. */
  private val v24 = {
    // 16×64 fixed sign matrix in {-1, +1}, from the splitmix64 finalizer
    // (seed block disjoint from v03's hyperplane grid).
    val signs: Array[Array[Int]] = Array.tabulate(16, 64) { (j, i) =>
      if (Math.floorMod(graft.functions.SketchKernels.mix(8192L + j * 64L + i), 2L) == 0L) -1 else 1
    }
    val matSql = signs.map(_.mkString("[", ",", "]")).mkString("[", ",\n      ", "]")
    def sqlDot16(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 17), i -> $a[i] * $b[i]))"
    QDef(
      "v24_jl_projection_audit",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
         |pr AS (
         |  SELECT vec_id, embedding,
         |    list_transform(range(0, 16), j -> list_sum(list_transform(range(1, 65),
         |      i -> CAST(embedding[i] AS DOUBLE) * CAST(($matSql)[j + 1][i] AS DOUBLE)))) AS proj
         |  FROM e),
         |p AS (
         |  SELECT q.vec_id AS q1, c.vec_id AS q2,
         |    ${sqlDot("q.embedding", "c.embedding")} /
         |      (sqrt(${sqlDot("q.embedding", "q.embedding")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos64,
         |    ${sqlDot16("q.proj", "c.proj")} /
         |      (sqrt(${sqlDot16("q.proj", "q.proj")}) * sqrt(${sqlDot16("c.proj", "c.proj")})) AS cos16
         |  FROM pr q JOIN pr c ON q.vec_id < c.vec_id)
         |SELECT q1, q2, cos64, cos16, cos16 - cos64 AS err
         |FROM p ORDER BY q1, q2""".stripMargin) { (s, d) =>
      val projCols = (0 until 16).map { j =>
        dot("emb", s"array(${signs(j).map(v => s"${v}.0D").mkString(",")})")
      }
      val pr = embeddings(s, d).filter(col("vec_id") < 10)
        .withColumn("proj", array(projCols: _*))
      val q = pr.select(col("vec_id").as("q1"), col("emb").as("e1"),
        col("proj").as("p1"))
      val c = pr.select(col("vec_id").as("q2"), col("emb").as("e2"),
        col("proj").as("p2"))
      q.join(broadcast(c), col("q1") < col("q2"))
        .withColumn("cos64", dot("e1", "e2") / (norm("e1") * norm("e2")))
        .withColumn("cos16", dot("p1", "p2") / (norm("p1") * norm("p2")))
        .select(col("q1"), col("q2"), col("cos64"), col("cos16"),
          (col("cos16") - col("cos64")).as("err"))
        .orderBy(col("q1"), col("q2"))
    }
  }

  /** Cluster labeling by class-TF-IDF (the BERTopic c-TF-IDF shape,
    * Grootendorst 2022): assign every embedding to its IVF list (the
    * v05 coarse quantizer), pool the matching documents' tokens per
    * list, and score each (list, term) by tf × n_lists / n_lists_with_
    * term — t14's rational tf-idf lifted from documents to clusters —
    * keeping the top-5 terms as the cluster's label. The human-readable
    * summary a pipeline prints next to every embedding cluster.
    *
    * Scale shape: one quantizer assignment scan (broadcast centroids),
    * one id-key join to the text table, one (list, term) aggregate —
    * output bounded by lists × vocab. Nothing is ever doc×doc; list
    * skew inherits the IVF knobs (re-pick centroids / split hot
    * lists). */
  private val v25 = QDef(
    "v25_cluster_labels",
    s"""$sqlIvfCtes,
       |tk AS (
       |  SELECT d.doc_id, a.list_id,
       |    unnest(list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x <> '')) AS term
       |  FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
       |ctf AS (SELECT list_id, term, COUNT(*) AS ctf FROM tk GROUP BY list_id, term),
       |cdf AS (SELECT term, COUNT(*) AS cdf FROM ctf GROUP BY term),
       |sc AS (
       |  SELECT ctf.list_id, ctf.term, ctf.ctf, cdf.cdf,
       |    CAST(ctf.ctf AS DOUBLE) * 8.0 / CAST(cdf.cdf AS DOUBLE) AS score
       |  FROM ctf JOIN cdf USING (term)),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY list_id ORDER BY score DESC, term) AS rnk FROM sc)
       |SELECT list_id, CAST(rnk AS INTEGER) AS rnk, term, ctf, cdf, score
       |FROM r WHERE rnk <= 5 ORDER BY list_id, rnk""".stripMargin) { (s, d) =>
    val assign = ivfAssign(embeddings(s, d))
      .select(col("vec_id"), col("list_id"))
    val tk = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(filter(split(col("text"), "\\s+"), t => t =!= "")).as("term"))
      .join(assign.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
    val ctf = tk.groupBy(col("list_id"), col("term"))
      .agg(count(lit(1)).as("ctf"))
    val cdf = ctf.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
    val wL = Window.partitionBy(col("list_id"))
      .orderBy(col("score").desc, col("term"))
    ctf.join(cdf, Seq("term"))
      .withColumn("score",
        col("ctf").cast("double") * lit(8.0) / col("cdf").cast("double"))
      .withColumn("rnk", row_number().over(wL))
      .filter(col("rnk") <= 5)
      .select(col("list_id"), col("rnk").cast("int").as("rnk"), col("term"),
        col("ctf"), col("cdf"), col("score"))
      .orderBy(col("list_id"), col("rnk"))
  }

  /** IVF hot-list split (the index-maintenance move behind v18's balance
    * audit): find the most occupied coarse list, split it in two with a
    * single 2-means assignment step seeded by the list's min- and
    * max-id members, and report every resulting list's occupancy before
    * and after — the rebalancing pass an operator runs when one
    * posting list dominates probe latency. Seeding by member ids (not
    * random) keeps the split reproducible across engines and runs.
    *
    * Scale shape: one broadcast-centroid assignment scan (shared
    * [[ivfAssign]]), one list-key size aggregate, then the split
    * decision — two more broadcast rows (the seeds) against only the
    * hot list's members. Nothing is ever corpus×corpus; the driver
    * never sees more than the 8-row size table. */
  private val v26 = QDef(
    "v26_hot_list_split",
    s"""$sqlIvfCtes,
       |sz AS (SELECT list_id, COUNT(*) AS n FROM assign GROUP BY list_id),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM sz),
       |hot AS (SELECT list_id AS hot_id FROM sz ORDER BY n DESC, list_id LIMIT 1),
       |sd AS (SELECT MIN(a.vec_id) AS sa, MAX(a.vec_id) AS sb
       |       FROM assign a JOIN hot ON a.list_id = hot.hot_id),
       |se AS (SELECT ea.embedding AS ea, eb.embedding AS eb
       |       FROM sd JOIN e ea ON ea.vec_id = sd.sa JOIN e eb ON eb.vec_id = sd.sb),
       |lab AS (
       |  SELECT a.vec_id, a.list_id AS parent_list,
       |    CASE WHEN a.list_id <> hot.hot_id THEN CAST(a.list_id AS VARCHAR)
       |         WHEN ${sqlDot("a.embedding", "se.ea")} /
       |                (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("se.ea", "se.ea")})) >=
       |              ${sqlDot("a.embedding", "se.eb")} /
       |                (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("se.eb", "se.eb")}))
       |         THEN CAST(a.list_id AS VARCHAR) || '.a'
       |         ELSE CAST(a.list_id AS VARCHAR) || '.b' END AS list_label
       |  FROM assign a CROSS JOIN hot CROSS JOIN se),
       |aft AS (SELECT list_label, parent_list, COUNT(*) AS n_after
       |        FROM lab GROUP BY list_label, parent_list)
       |SELECT aft.list_label, aft.parent_list, sz.n AS n_before, aft.n_after,
       |  CAST(aft.n_after AS DOUBLE) / CAST(tot.total AS DOUBLE) AS share_after
       |FROM aft JOIN sz ON aft.parent_list = sz.list_id CROSS JOIN tot
       |ORDER BY aft.list_label""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
    val assign = ivfAssign(e).persistTracked()
    val sz = assign.groupBy(col("list_id")).agg(count(lit(1)).as("n"))
    val tot = sz.agg(sum(col("n")).as("total"))
    val hot = sz.orderBy(col("n").desc, col("list_id")).limit(1)
      .select(col("list_id").as("hot_id"))
    val sd = assign.join(broadcast(hot), col("list_id") === col("hot_id"))
      .agg(min(col("vec_id")).as("sa"), max(col("vec_id")).as("sb"))
    val se = sd
      .join(e.select(col("vec_id").as("sa"), col("emb").as("ea")), Seq("sa"))
      .join(e.select(col("vec_id").as("sb"), col("emb").as("eb")), Seq("sb"))
      .select(col("ea"), col("eb"))
    val lab = assign.crossJoin(broadcast(hot)).crossJoin(broadcast(se))
      .withColumn("list_label",
        when(col("list_id") =!= col("hot_id"), col("list_id").cast("string"))
          .when(
            dot("emb", "ea") / (norm("emb") * norm("ea")) >=
              dot("emb", "eb") / (norm("emb") * norm("eb")),
            concat(col("list_id").cast("string"), lit(".a")))
          .otherwise(concat(col("list_id").cast("string"), lit(".b"))))
      .select(col("vec_id"), col("list_id").as("parent_list"), col("list_label"))
    lab.groupBy(col("list_label"), col("parent_list"))
      .agg(count(lit(1)).as("n_after"))
      .join(broadcast(sz.withColumnRenamed("list_id", "parent_list")
        .withColumnRenamed("n", "n_before")), Seq("parent_list"))
      .crossJoin(broadcast(tot))
      .select(col("list_label"), col("parent_list"), col("n_before"),
        col("n_after"),
        (col("n_after").cast("double") / col("total").cast("double"))
          .as("share_after"))
      .orderBy(col("list_label"))
  }

  /** Metadata-filtered ANN audit: per probe, the TRUE label-filtered
    * top-5 (predicate pushed BEFORE ranking — the filter lands in the
    * join condition, so only same-label candidates are ever scored)
    * versus the post-filter approach every naive stack ships first
    * (unfiltered top-20, then keep label matches, take 5), with the
    * recall the post-filter variant achieves. The standard filtered-
    * search design question; this query is the measurement that decides
    * between the two plans.
    *
    * Scale shape: both retrievers are one broadcast-probe corpus scan
    * into the two-level [[TopK]] aggregate; the pre-filter variant
    * scans strictly fewer rows (the label predicate prunes before any
    * scoring). The comparison join touches ≤25 rows per probe. */
  private val v27 = QDef(
    "v27_filtered_knn",
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
       |      FROM e WHERE vec_id < 10),
       |prr AS (
       |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS r
       |  FROM (SELECT q.q_id, c.vec_id,
       |          ${sqlDot("q.q_emb", "c.embedding")} /
       |            (sqrt(${sqlDot("q.q_emb", "q.q_emb")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS sim
       |        FROM q JOIN e c ON c.label = q.q_label AND c.vec_id <> q.q_id)),
       |pre AS (SELECT q_id, vec_id FROM prr WHERE r <= 5),
       |unr AS (
       |  SELECT q_id, vec_id, lab_match,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS r
       |  FROM (SELECT q.q_id, c.vec_id,
       |          CASE WHEN c.label = q.q_label THEN 1 ELSE 0 END AS lab_match,
       |          ${sqlDot("q.q_emb", "c.embedding")} /
       |            (sqrt(${sqlDot("q.q_emb", "q.q_emb")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS sim
       |        FROM q JOIN e c ON c.vec_id <> q.q_id)),
       |post AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY r) AS rr
       |    FROM unr WHERE r <= 20 AND lab_match = 1) WHERE rr <= 5),
       |hit AS (SELECT pre.q_id, COUNT(*) AS n_hit
       |        FROM pre JOIN post ON pre.q_id = post.q_id AND pre.vec_id = post.vec_id
       |        GROUP BY pre.q_id),
       |cnt AS (
       |  SELECT q.q_id, q.q_label,
       |    (SELECT COUNT(*) FROM pre WHERE pre.q_id = q.q_id) AS n_true,
       |    (SELECT COUNT(*) FROM post WHERE post.q_id = q.q_id) AS n_post
       |  FROM q)
       |SELECT cnt.q_id, CAST(cnt.q_label AS INTEGER) AS label,
       |  cnt.n_true, cnt.n_post, COALESCE(hit.n_hit, 0) AS n_hit,
       |  CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / CAST(cnt.n_true AS DOUBLE) AS recall
       |FROM cnt LEFT JOIN hit ON cnt.q_id = hit.q_id
       |ORDER BY cnt.q_id""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"))
    def sim = dot("emb", "q_emb") / (norm("q_emb") * norm("emb"))
    val preCand = e.join(broadcast(probes),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", sim)
    val pre = TopK.topK(preCand, Seq("q_id"), col("sim"), col("vec_id"), 5,
        asc = false)
      .select(col("q_id"), col("id").as("vec_id"))
    val unCand = e.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("sim", sim)
    val un20 = TopK.topK(unCand, Seq("q_id"), col("sim"), col("vec_id"), 20,
      asc = false,
      extra = when(col("label") === col("q_label"), 1L).otherwise(0L))
    val wPost = Window.partitionBy(col("q_id")).orderBy(col("rank"))
    val post = un20.filter(col("extra") === 1)
      .withColumn("rr", row_number().over(wPost))
      .filter(col("rr") <= 5)
      .select(col("q_id"), col("id").as("vec_id"))
    val hit = pre.join(post, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    val nTrue = pre.groupBy(col("q_id")).agg(count(lit(1)).as("n_true"))
    val nPost = post.groupBy(col("q_id")).agg(count(lit(1)).as("n_post"))
    probes.select(col("q_id"), col("q_label"))
      .join(nTrue, Seq("q_id"), "left")
      .join(nPost, Seq("q_id"), "left")
      .join(hit, Seq("q_id"), "left")
      .select(col("q_id"), col("q_label").cast("int").as("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        // denominator coalesced too: a probe whose label has no other
        // members gives 0.0/0.0 = NaN on BOTH engines (DuckDB's scalar
        // subquery yields 0, not NULL), keeping the hash compare exact
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          coalesce(col("n_true"), lit(0L)).cast("double")).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Retrieval-quality eval of the LSH retriever against brute-force
    * ground truth (the BEIR-style per-query scorecard): ground truth is
    * the exact-cosine top-5 (v01), the system under test is v03's
    * hyperplane-bucket retriever extended to top-20; per probe, the
    * bucket candidate count, the rank of the first relevant hit, its
    * reciprocal (MRR's addend — an exact integer ratio, no mean taken
    * so no float-sum ordering), and recall@5/@20 intersections. The
    * scorecard a pipeline reads before trading brute-force cost for a
    * bucketed index.
    *
    * Scale shape: ground truth and system are each one broadcast-probe
    * corpus scan into the two-level [[TopK]] aggregate (the LSH side
    * scans only same-bucket rows); the eval join touches ≤25 rows per
    * probe. */
  private val v28 = QDef(
    "v28_retrieval_eval",
    s"""WITH $sqlLshCtes,
         |gtp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${sqlDot("q.embedding", "c.embedding")} /
         |        (sqrt(${sqlDot("q.embedding", "q.embedding")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) DESC,
         |      c.vec_id) AS rank
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |gt AS (SELECT q_id, vec_id FROM gtp WHERE rank <= 5),
         |lp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${sqlDot("q.embedding", "c.embedding")} /
         |        (sqrt(${sqlDot("q.embedding", "q.embedding")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) DESC,
         |      c.vec_id) AS rank
         |  FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id < 10
         |    AND c.vec_id <> q.vec_id),
         |nc AS (SELECT q.vec_id AS q_id, COUNT(*) AS n_cand
         |       FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id < 10
         |         AND c.vec_id <> q.vec_id GROUP BY q.vec_id),
         |l20 AS (SELECT q_id, vec_id, rank FROM lp WHERE rank <= 20),
         |rel AS (SELECT l20.q_id, l20.vec_id, l20.rank
         |        FROM l20 JOIN gt ON l20.q_id = gt.q_id AND l20.vec_id = gt.vec_id),
         |agg AS (
         |  SELECT q_id, MIN(rank) AS first_rel_rank,
         |    CAST(COUNT(*) FILTER (WHERE rank <= 5) AS BIGINT) AS n_rel5,
         |    COUNT(*) AS n_rel20
         |  FROM rel GROUP BY q_id),
         |q AS (SELECT vec_id AS q_id FROM e WHERE vec_id < 10)
         |SELECT q.q_id, COALESCE(nc.n_cand, 0) AS n_cand,
         |  CAST(agg.first_rel_rank AS INTEGER) AS first_rel_rank,
         |  COALESCE(1.0 / CAST(agg.first_rel_rank AS DOUBLE), 0.0) AS rr,
         |  COALESCE(agg.n_rel5, 0) AS n_rel5, COALESCE(agg.n_rel20, 0) AS n_rel20
         |FROM q LEFT JOIN agg ON q.q_id = agg.q_id
         |LEFT JOIN nc ON q.q_id = nc.q_id
         |ORDER BY q.q_id""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
    def sim = dot("emb", "q_emb") / (norm("q_emb") * norm("emb"))
    // ground truth: exact-cosine top-5 over the full corpus
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val gt = TopK.topK(
        e.join(broadcast(probes), col("vec_id") =!= col("q_id"))
          .withColumn("sim", sim),
        Seq("q_id"), col("sim"), col("vec_id"), 5, asc = false)
      .select(col("q_id"), col("id").as("vec_id"))
    // system under test: v03's retriever (shared lshBucket), top-20
    val eb = e.withColumn("bucket", lshBucket)
    val bProbes = eb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("bucket"))
    val cand = eb.join(broadcast(bProbes), Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
    val nc = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
    val l20 = TopK.topK(cand.withColumn("sim", sim),
        Seq("q_id"), col("sim"), col("vec_id"), 20, asc = false)
      .select(col("q_id"), col("id").as("vec_id"), col("rank"))
    val agg = l20.join(gt, Seq("q_id", "vec_id"))
      .groupBy(col("q_id"))
      .agg(min(col("rank")).as("first_rel_rank"),
        sum(when(col("rank") <= 5, 1L).otherwise(0L)).as("n_rel5"),
        count(lit(1)).as("n_rel20"))
    probes.select(col("q_id"))
      .join(agg, Seq("q_id"), "left")
      .join(nc, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("first_rel_rank").cast("int").as("first_rel_rank"),
        coalesce(lit(1.0) / col("first_rel_rank").cast("double"), lit(0.0))
          .as("rr"),
        coalesce(col("n_rel5"), lit(0L)).as("n_rel5"),
        coalesce(col("n_rel20"), lit(0L)).as("n_rel20"))
      .orderBy(col("q_id"))
  }

  /** Embedding isotropy audit (Ethayarajh 2019 / Mu 2018 shape): the
    * corpus' MEAN PAIRWISE COSINE — an O(n²) statistic — computed from
    * ONE linear aggregate via the identity Σ_{i≠j} cos(uᵢ,uⱼ) =
    * ‖Σuᵢ‖² − n over unit-normalized vectors: per-dimension sums s_d
    * are decimal-exact (Det.dsum), then ‖Σu‖² = Σ_d s_d² collapses 64
    * rows. The card (mean raw norm, anisotropy = ‖mean u‖, mean
    * pairwise cosine) is the "is this embedding space collapsing?"
    * gate run before cosine-threshold dedup (v04/v11) — a high mean
    * cosine inflates every similarity and silently over-deletes.
    *
    * Scale shape: two corpus scans, both map-side-combined aggregates
    * (a 2-number stats row and a 64-row per-dimension sum); NOTHING is
    * pairwise, the window-free plan is volume-independent past the
    * scans — the textbook case for sufficient-statistics rewrites at
    * 100 TB. */
  private val v29 = QDef(
    "v29_isotropy_audit",
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |st AS (SELECT COUNT(*) AS n, ${sqlDsum("nrm")} AS sum_norm FROM e),
       |x AS (
       |  SELECT t.di AS dim, CAST(embedding[t.di] AS DOUBLE) / nrm AS u
       |  FROM e, unnest(range(1, 65)) AS t(di)),
       |sd AS (SELECT dim, ${sqlDsum("u")} AS s FROM x GROUP BY dim),
       |s2 AS (SELECT ${sqlDsum("s * s")} AS s2 FROM sd)
       |SELECT n, sum_norm / n AS mean_norm,
       |  sqrt(s2) / n AS anisotropy,
       |  (s2 - n) / CAST(n * (n - 1) AS DOUBLE) AS mean_pairwise_cos
       |FROM st CROSS JOIN s2""".stripMargin) { (s, d) =>
    val e = embeddings(s, d).withColumn("nrm", norm("emb"))
    val st = e.agg(count(lit(1)).as("n"), dsum(col("nrm")).as("sum_norm"))
    val sd = e.select(posexplode(col("emb")).as(Seq("dim", "v")), col("nrm"))
      .select(col("dim"), (col("v") / col("nrm")).as("u"))
      .groupBy(col("dim")).agg(dsum(col("u")).as("s"))
    val s2 = sd.agg(dsum(col("s") * col("s")).as("s2"))
    st.crossJoin(broadcast(s2)).select(
      col("n"),
      (col("sum_norm") / col("n")).as("mean_norm"),
      (sqrt(col("s2")) / col("n")).as("anisotropy"),
      ((col("s2") - col("n")) / (col("n") * (col("n") - 1)).cast("double"))
        .as("mean_pairwise_cos"))
  }

  /** Embedding-cluster language purity — the first operator JOINING the
    * text and vector modalities on the shared id space (embedding i is
    * document i's vector): per IVF quantizer list, the member count,
    * dominant document language with its share (purity), and the
    * language spread. High purity means the embedding space already
    * separates languages — per-language dedup thresholds (t27, v04) can
    * then be set per list; low purity on one list is the mixed-cluster
    * smell that triggers v26's split or v07's retrain.
    *
    * Scale shape: one broadcast-centroid assignment scan (shared
    * [[ivfAssign]]), one id-key equi-join carrying only (id, lang),
    * then aggregates over (list, lang) rows — bounded by K×|langs|;
    * the dominant language is a struct-MIN argmax (O(1) state, ties to
    * the lexicographically first language in both engines). */
  private val v30 = QDef(
    "v30_cluster_purity",
    s"""$sqlIvfCtes,
       |mem AS (
       |  SELECT a.list_id, d.lang
       |  FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
       |lc AS (SELECT list_id, lang, COUNT(*) AS n FROM mem GROUP BY list_id, lang),
       |li AS (SELECT list_id, COUNT(*) AS n_langs, SUM(n) AS n_members
       |       FROM lc GROUP BY list_id),
       |tp AS (SELECT list_id, MIN({'neg_n': -n, 'lang': lang}) AS best
       |       FROM lc GROUP BY list_id)
       |SELECT li.list_id, CAST(li.n_members AS BIGINT) AS n_members,
       |  CAST(li.n_langs AS BIGINT) AS n_langs,
       |  struct_extract(tp.best, 'lang') AS top_lang,
       |  CAST(-struct_extract(tp.best, 'neg_n') AS BIGINT) AS top_n,
       |  CAST(-struct_extract(tp.best, 'neg_n') AS DOUBLE) / li.n_members
       |    AS purity
       |FROM li JOIN tp USING (list_id) ORDER BY list_id""".stripMargin) { (s, d) =>
    val assign = ivfAssign(embeddings(s, d)).select(col("vec_id"), col("list_id"))
    val m = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(assign.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
    val c = m.groupBy(col("list_id"), col("lang")).agg(count(lit(1)).as("n"))
    val l = c.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_langs"), sum(col("n")).as("n_members"))
    val top = c.groupBy(col("list_id"))
      .agg(min(struct((-col("n")).as("neg_n"), col("lang").as("lang")))
        .as("best"))
    l.join(top, Seq("list_id"))
      .select(col("list_id"), col("n_members"), col("n_langs"),
        col("best.lang").as("top_lang"),
        (-col("best.neg_n")).as("top_n"),
        ((-col("best.neg_n")).cast("double") / col("n_members")).as("purity"))
      .orderBy(col("list_id"))
  }

  /** Document-length vs embedding-CONCENTRATION correlation — the
    * representation diagnostic "do longer documents get more diffuse
    * embeddings?": y is the inverse participation ratio Σeᵢ⁴ (for the
    * fixture's unit vectors ∈ [1/64, 1]; high = mass on few
    * dimensions), x the token count, and the card reports Pearson r
    * from sufficient statistics only: n, Σx, Σx² stay BIGINT; Σy, Σy²,
    * Σxy are decimal-exact sums — ONE joined corpus scan, a single-row
    * card, a fixed IEEE chain for r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·
    * √(nΣy²−(Σy)²)) — v29's rewrite discipline applied to covariance.
    * (The L2 norm would be the natural y, but the fixture's vectors are
    * unit-normalized — zero variance after decimal rounding — so the
    * card correlates against concentration instead; a degenerate side
    * still yields NULL via NULLIF, never a divide error.)
    *
    * Scale shape: one id-key equi-join carrying (id, x) against
    * (id, y), one map-side-combined global aggregate; nothing
    * pairwise, nothing windowed. */
  private val v31 = QDef(
    "v31_length_ipr_corr",
    s"""WITH dx AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS x
       |  FROM documents),
       |vy AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(range(1, 65),
       |      i -> (CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) *
       |           (CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS y
       |  FROM embeddings),
       |j AS (SELECT dx.x, vy.y FROM dx JOIN vy ON vy.vec_id = dx.doc_id),
       |st AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    ${sqlDsum("y")} AS sy, ${sqlDsum("y * y")} AS syy,
       |    ${sqlDsum("x * y")} AS sxy
       |  FROM j)
       |SELECT n, sx, sy, sxy,
       |  (n * sxy - sx * sy) /
       |    NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
       |           sqrt(n * syy - sy * sy), 0.0) AS pearson_r
       |FROM st""".stripMargin) { (s, d) =>
    val dx = Tables.documents(s, d).select(col("doc_id"),
      size(expr("filter(split(text, '\\\\s+'), x -> x != '')")).cast("long").as("x"))
    val vy = embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        expr("aggregate(emb, CAST(0 AS DOUBLE), (a, v) -> a + (v * v) * (v * v))")
          .as("y"))
    val j = dx.join(vy, Seq("doc_id"))
    val st = j.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      dsum(col("y")).as("sy"), dsum(col("y") * col("y")).as("syy"),
      dsum(col("x") * col("y")).as("sxy"))
    st.select(col("n"), col("sx"), col("sy"), col("sxy"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        nullif(
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")),
          lit(0.0)))
        .as("pearson_r"))
  }

  /** Label-separation card — v29's sufficient-statistics identity
    * applied PER LABEL: for each label, the mean pairwise cosine WITHIN
    * the label ((‖Σuₗ‖² − nₗ)/(nₗ(nₗ−1))) and the mean cosine AGAINST
    * every other label's members (Σ_d sₗ·(T−sₗ) / (nₗ(N−nₗ)), where T
    * is the global per-dimension sum — cross-label pair sums are dot
    * products of per-label sum vectors, so the O(n²) statistic again
    * costs one linear aggregate). separation = intra − inter is the
    * "are labels actually clusters?" gate before label-stratified
    * dedup (v27) or cluster-purity conclusions (v30).
    *
    * Scale shape: one corpus scan into a (label, dim) decimal-sum
    * table (map-side combined, K×64 rows), everything after runs on
    * that table; nothing pairwise, no windows. */
  private val v32 = QDef(
    "v32_label_separation",
    s"""WITH e AS (
       |  SELECT label, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |x AS (
       |  SELECT label, t.di AS dim, CAST(embedding[t.di] AS DOUBLE) / nrm AS u
       |  FROM e, unnest(range(1, 65)) AS t(di)),
       |sd AS (SELECT label, dim, ${sqlDsum("u")} AS s
       |       FROM x GROUP BY label, dim),
       |td AS (SELECT dim, ${sqlDsum("s")} AS t FROM sd GROUP BY dim),
       |nl AS (SELECT label, COUNT(*) AS n FROM e GROUP BY label),
       |agg AS (
       |  SELECT sd.label, ${sqlDsum("sd.s * sd.s")} AS s2,
       |    ${sqlDsum("sd.s * (td.t - sd.s)")} AS cross_sum
       |  FROM sd JOIN td USING (dim) GROUP BY sd.label),
       |tot AS (SELECT SUM(n) AS nt FROM nl)
       |SELECT nl.label, CAST(nl.n AS BIGINT) AS n,
       |  (agg.s2 - nl.n) / NULLIF(CAST(nl.n * (nl.n - 1) AS DOUBLE), 0.0) AS mean_intra_cos,
       |  agg.cross_sum / NULLIF(CAST(nl.n * (tot.nt - nl.n) AS DOUBLE), 0.0) AS mean_inter_cos,
       |  ((agg.s2 - nl.n) / NULLIF(CAST(nl.n * (nl.n - 1) AS DOUBLE), 0.0)) -
       |    (agg.cross_sum / NULLIF(CAST(nl.n * (tot.nt - nl.n) AS DOUBLE), 0.0)) AS separation
       |FROM nl JOIN agg USING (label) CROSS JOIN tot
       |ORDER BY nl.label""".stripMargin) { (s, d) =>
    val e = embeddings(s, d).withColumn("nrm", norm("emb"))
    val sd = e.select(col("label"), posexplode(col("emb")).as(Seq("dim", "v")),
        col("nrm"))
      .select(col("label"), col("dim"), (col("v") / col("nrm")).as("u"))
      .groupBy(col("label"), col("dim")).agg(dsum(col("u")).as("s"))
    val td = sd.groupBy(col("dim")).agg(dsum(col("s")).as("t"))
    val nl = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val agg = sd.join(td, Seq("dim"))
      .groupBy(col("label"))
      .agg(dsum(col("s") * col("s")).as("s2"),
        dsum(col("s") * (col("t") - col("s"))).as("cross_sum"))
    val tot = nl.agg(sum(col("n")).as("nt"))
    val intra = (col("s2") - col("n")) /
      nullif((col("n") * (col("n") - 1)).cast("double"), lit(0.0))
    val inter = col("cross_sum") /
      nullif((col("n") * (col("nt") - col("n"))).cast("double"), lit(0.0))
    nl.join(agg, Seq("label")).crossJoin(broadcast(tot))
      .select(col("label"), col("n"),
        intra.as("mean_intra_cos"), inter.as("mean_inter_cos"),
        (intra - inter).as("separation"))
      .orderBy(col("label"))
  }

  /** Top principal direction of the embedding matrix by DISTRIBUTED
    * power iteration (two rounds of v <- M\u1d40M v, normalized between
    * rounds) — the building block behind PCA whitening, anisotropy
    * correction (all-but-the-top), and spectral ev_share monitoring of
    * an embedding corpus. Nothing ever materializes the Gram matrix:
    * each round is two key-equi shuffles over the exploded (vec_id,
    * dim, v) table — dot products t_i = <e_i, v> as a vec_id-keyed
    * aggregate, then the update w_j = \u03a3_i e_ij t_i as a dim-keyed
    * aggregate — with the 64-row direction vector broadcast back. All
    * reductions are decimal-exact (order-independent), so two engines
    * agree bit-for-bit. Output: the unit loading per dimension, the
    * Rayleigh eigenvalue estimate, and its share of total variance
    * (trace). Rounds scale as O(log(gap)); at 100 TB each round is two
    * map-side-combined shuffles of constant-width rows. */
  private val v33 = QDef(
    "v33_power_iteration",
    s"""WITH ex AS (
       |  SELECT vec_id, t.di AS dim, CAST(embedding[t.di] AS DOUBLE) AS v
       |  FROM embeddings, unnest(range(1, 65)) AS t(di)),
       |t1 AS (SELECT vec_id, ${sqlDsum("v")} AS t FROM ex GROUP BY vec_id),
       |w1 AS (SELECT dim, ${sqlDsum("v * t")} AS w
       |       FROM ex JOIN t1 USING (vec_id) GROUP BY dim),
       |n1 AS (SELECT ${sqlDsum("w * w")} AS ww FROM w1),
       |v1 AS (SELECT dim, w / sqrt(ww) AS u FROM w1 CROSS JOIN n1),
       |t2 AS (SELECT vec_id, ${sqlDsum("v * u")} AS t
       |       FROM ex JOIN v1 USING (dim) GROUP BY vec_id),
       |w2 AS (SELECT dim, ${sqlDsum("v * t")} AS w2
       |       FROM ex JOIN t2 USING (vec_id) GROUP BY dim),
       |n2 AS (SELECT ${sqlDsum("w2 * w2")} AS ww2 FROM w2),
       |tr AS (SELECT ${sqlDsum("v * v")} AS tr FROM ex)
       |SELECT CAST(dim AS BIGINT) AS dim, w2 / sqrt(ww2) AS loading,
       |  sqrt(ww2) AS lambda, sqrt(ww2) / tr AS ev_share
       |FROM w2 CROSS JOIN n2 CROSS JOIN tr ORDER BY dim""".stripMargin) { (s, d) =>
    import graft.util.Persist.Syntax
    val ex = explodedEmb(s, d).persistTracked()
    val (w2, n2, tr) = powerStages(ex)
    w2.crossJoin(broadcast(n2)).crossJoin(broadcast(tr))
      .select(col("dim").cast("long").as("dim"),
        (col("w2") / sqrt(col("ww2"))).as("loading"),
        sqrt(col("ww2")).as("lambda"),
        (sqrt(col("ww2")) / col("tr")).as("ev_share"))
      .orderBy(col("dim"))
  }

  /** Deterministic k-means++ style seeding by FURTHEST-FIRST traversal
    * (the maxmin variant of Arthur & Vassilvitskii 2007 — Gonzalez
    * 1985): seed 0 is the max-norm vector, each next seed the corpus
    * argmax of the min squared distance to the chosen seeds. The init
    * step ahead of v07's Lloyd rounds, made reproducible (no sampling)
    * so an oracle can replay it. Each round is ONE corpus scan against
    * the broadcast seed set — distances via the codegen'd dot_fold
    * kernel, the argmax a distributed top-1 (per-partition candidates,
    * driver merges k rows of 64 doubles — bounded state, the AnnIndex
    * probe-list discipline). At 100 TB: k scans, no shuffle beyond the
    * top-1 reduction. Ties break to the smallest vec_id in both
    * engines. */
  private val v34 = QDef(
    "v34_kmeanspp_seeds", {
      def d2(sa: String): String =
        s"e.n2 - 2 * ${sqlDot("e.embedding", s"$sa.embedding")} + $sa.n2"
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    ${sqlDot("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |s0 AS (SELECT vec_id, embedding, n2 FROM e ORDER BY n2 DESC, vec_id LIMIT 1),
         |s1 AS (SELECT e.vec_id, e.embedding, e.n2, ${d2("s0")} AS d2
         |       FROM e CROSS JOIN s0 ORDER BY d2 DESC, e.vec_id LIMIT 1),
         |s2 AS (SELECT e.vec_id, e.embedding, e.n2,
         |         LEAST(${d2("s0")}, ${d2("s1")}) AS d2
         |       FROM e CROSS JOIN s0 CROSS JOIN s1
         |       ORDER BY d2 DESC, e.vec_id LIMIT 1),
         |s3 AS (SELECT e.vec_id, e.n2,
         |         LEAST(${d2("s0")}, ${d2("s1")}, ${d2("s2")}) AS d2
         |       FROM e CROSS JOIN s0 CROSS JOIN s1 CROSS JOIN s2
         |       ORDER BY d2 DESC, e.vec_id LIMIT 1)
         |SELECT CAST(0 AS BIGINT) AS seed_rank, vec_id, n2 AS d2 FROM s0
         |UNION ALL SELECT CAST(1 AS BIGINT), vec_id, d2 FROM s1
         |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, d2 FROM s2
         |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, d2 FROM s3
         |ORDER BY seed_rank""".stripMargin
    }) { (s, d) =>
    import graft.util.Persist.Syntax
    val e = embeddings(s, d)
      .select(col("vec_id"), col("emb"),
        expr("dot_fold(emb, emb)").as("n2"))
      .persistTracked()
    // (vec_id, emb, n2) of the current seed set — k rows on the driver
    var seeds = Vector.empty[(Long, Seq[Double], Double)]
    val first = e.orderBy(col("n2").desc, col("vec_id")).limit(1)
      .collect()(0)
    seeds :+= ((first.getLong(0), first.getSeq[Double](1), first.getDouble(2)))
    var out = Vector((0L, seeds(0)._1, seeds(0)._3))
    (1 to 3).foreach { r =>
      val dists = seeds.map { case (_, emb, n2) =>
        col("n2") - lit(2.0) * expr(s"dot_fold(emb, ${litArr(emb)})") + lit(n2)
      }
      val minD2 = dists.reduce((a, b) => least(a, b))
      val next = e.withColumn("d2", minD2)
        .orderBy(col("d2").desc, col("vec_id")).limit(1).collect()(0)
      seeds :+= ((next.getLong(0), next.getSeq[Double](1), next.getDouble(2)))
      out :+= ((r.toLong, next.getLong(0), next.getDouble(3)))
    }
    import s.implicits._
    out.toDF("seed_rank", "vec_id", "d2").orderBy(col("seed_rank"))
  }

  /** SQL array literal for a broadcast seed vector. */
  private def litArr(v: Seq[Double]): String =
    v.mkString("array(", "D, ", "D)")

  /** The exploded (vec_id, dim, v) long form of the embedding table —
    * the representation both spectral operators (v33/v35) run on. */
  private def explodedEmb(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("dim0", "v")))
      .select(col("vec_id"), (col("dim0") + 1).as("dim"), col("v"))

  /** Two power-iteration rounds over the exploded table; returns the
    * un-normalized second-round direction (dim, w2) — eagerly
    * localCheckpoint'ed, see below — its squared norm (ww2), and the
    * corpus trace (tr) — all decimal-exact.
    *
    * Deliberately NOT merged into fewer passes (r13 measured): folding
    * t1/tr (and v35's norms) into one persisted per-vector frame
    * regressed v35 4.3→6.8 s — the extra cache materialization barrier
    * and the wider aggregate cost more than the saved scans of the
    * already-cached `ex`. The cost that IS worth removing is
    * driver-side: w2 is referenced by every downstream consumer (n2,
    * the direction vector, v35's projections), and each reference
    * re-embeds — and re-analyzes — the whole two-round join/aggregate
    * tree. Checkpointing the 64-row w2 flattens all of them to a leaf
    * for one tiny eager job. */
  private def powerStages(ex: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val t1 = ex.groupBy(col("vec_id")).agg(dsum(col("v")).as("t"))
    val w1 = ex.join(t1, "vec_id")
      .groupBy(col("dim")).agg(dsum(col("v") * col("t")).as("w"))
    val n1 = w1.agg(dsum(col("w") * col("w")).as("ww"))
    val v1 = w1.crossJoin(broadcast(n1))
      .select(col("dim"), (col("w") / sqrt(col("ww"))).as("u"))
    val t2 = ex.join(broadcast(v1), "dim")
      .groupBy(col("vec_id")).agg(dsum(col("v") * col("u")).as("t"))
    val w2 = ex.join(t2, "vec_id")
      .groupBy(col("dim")).agg(dsum(col("v") * col("t")).as("w2"))
      .checkpointTracked()
    val n2 = w2.agg(dsum(col("w2") * col("w2")).as("ww2"))
    val tr = ex.agg(dsum(col("v") * col("v")).as("tr"))
    (w2, n2, tr)
  }

  /** The v33/v35 shared oracle prefix: exploded table + both power
    * rounds as CTE bodies (composed into each query's WITH clause). */
  private def sqlPowerCtes: String =
    s"""ex AS (
       |  SELECT vec_id, t.di AS dim, CAST(embedding[t.di] AS DOUBLE) AS v
       |  FROM embeddings, unnest(range(1, 65)) AS t(di)),
       |t1 AS (SELECT vec_id, ${sqlDsum("v")} AS t FROM ex GROUP BY vec_id),
       |w1 AS (SELECT dim, ${sqlDsum("v * t")} AS w
       |       FROM ex JOIN t1 USING (vec_id) GROUP BY dim),
       |n1 AS (SELECT ${sqlDsum("w * w")} AS ww FROM w1),
       |v1 AS (SELECT dim, w / sqrt(ww) AS u FROM w1 CROSS JOIN n1),
       |t2 AS (SELECT vec_id, ${sqlDsum("v * u")} AS t
       |       FROM ex JOIN v1 USING (dim) GROUP BY vec_id),
       |w2 AS (SELECT dim, ${sqlDsum("v * t")} AS w2
       |       FROM ex JOIN t2 USING (vec_id) GROUP BY dim),
       |n2 AS (SELECT ${sqlDsum("w2 * w2")} AS ww2 FROM w2),
       |tr AS (SELECT ${sqlDsum("v * v")} AS tr FROM ex)""".stripMargin

  /** All-but-the-top correction audit (Mu & Viswanath 2018): project
    * out v33's top principal direction from every embedding, then
    * re-measure v29's anisotropy on the corrected, re-unit-normalized
    * vectors — the one-row card that tells whether removing the common
    * direction actually restored isotropy (and how much energy it
    * carried). Every stage is the same decimal-exact key-joined
    * aggregate shape as v33: the projection coefficient is a
    * vec_id-keyed dot against the broadcast 64-row direction, the
    * correction is per-row expression work, the audits are dim-keyed
    * sums — the corpus streams through twice, nothing pairwise. */
  private val v35 = QDef(
    "v35_all_but_the_top",
    s"""WITH $sqlPowerCtes,
       |vdir AS (SELECT dim, w2 / sqrt(ww2) AS u FROM w2 CROSS JOIN n2),
       |proj AS (SELECT vec_id, ${sqlDsum("v * u")} AS t
       |         FROM ex JOIN vdir USING (dim) GROUP BY vec_id),
       |-- the corrected vector never materializes: with u unit,
       |-- ||e - t*u||^2 = ||e||^2 - t^2 exactly, and the per-dim sum of
       |-- corrected unit vectors is S_j - u_j * beta with
       |-- S_j = sum_i v_ij/nr1_i and beta = sum_i t_i/nr1_i
       |nrm AS (SELECT vec_id, sqrt(${sqlDsum("v * v")}) AS nr0 FROM ex GROUP BY vec_id),
       |alpha AS (SELECT proj.vec_id, proj.t,
       |            sqrt(nrm.nr0 * nrm.nr0 - proj.t * proj.t) AS nr1
       |          FROM proj JOIN nrm USING (vec_id)),
       |ub AS (SELECT dim, ${sqlDsum("v / nr0")} AS sb
       |       FROM ex JOIN nrm USING (vec_id) WHERE nr0 > 0 GROUP BY dim),
       |svec AS (SELECT dim, ${sqlDsum("ex.v / alpha.nr1")} AS sj
       |         FROM ex JOIN alpha USING (vec_id) WHERE alpha.nr1 > 0 GROUP BY dim),
       |beta AS (SELECT ${sqlDsum("t / nr1")} AS b FROM alpha WHERE nr1 > 0),
       |ua AS (SELECT svec.dim, svec.sj - vdir.u * beta.b AS sa
       |       FROM svec JOIN vdir USING (dim) CROSS JOIN beta),
       |sb2 AS (SELECT ${sqlDsum("sb * sb")} AS sq FROM ub),
       |sa2 AS (SELECT ${sqlDsum("sa * sa")} AS sq FROM ua),
       |cnt AS (SELECT COUNT(*) AS n FROM embeddings)
       |SELECT n, sqrt(ww2) / tr AS lambda_share,
       |  sqrt(sb2.sq) / n AS aniso_before,
       |  sqrt(sa2.sq) / n AS aniso_after
       |FROM cnt CROSS JOIN n2 CROSS JOIN tr CROSS JOIN sb2 CROSS JOIN sa2""".stripMargin) { (s, d) =>
    import graft.util.Persist.Syntax
    val ex = explodedEmb(s, d).persistTracked()
    val (w2, n2, tr) = powerStages(ex)
    val vdir = w2.crossJoin(broadcast(n2))
      .select(col("dim"), (col("w2") / sqrt(col("ww2"))).as("u"))
    val proj = ex.join(broadcast(vdir), "dim")
      .groupBy(col("vec_id")).agg(dsum(col("v") * col("u")).as("t"))
    // ||e - t*u||^2 = ||e||^2 - t^2 (u unit) — the corrected vectors
    // never materialize; their per-dim unit sums are S_j - u_j * beta
    val nrm = ex.groupBy(col("vec_id"))
      .agg(sqrt(dsum(col("v") * col("v"))).as("nr0"))
    // localCheckpoint, not persist (r13): svec and beta both reference
    // alpha, and a lineage-intact persist made each of them re-analyze
    // the projection+norm tree on the driver; the eager checkpoint
    // flattens it (same blocks-in-memory cost as the persist it replaces)
    val alpha = proj.join(nrm, "vec_id")
      .select(col("vec_id"), col("t"),
        sqrt(col("nr0") * col("nr0") - col("t") * col("t")).as("nr1"))
      .checkpointTracked()
    val ub = ex.join(nrm, "vec_id").where(col("nr0") > 0)
      .groupBy(col("dim")).agg(dsum(col("v") / col("nr0")).as("sb"))
    val svec = ex.join(alpha, "vec_id").where(col("nr1") > 0)
      .groupBy(col("dim")).agg(dsum(col("v") / col("nr1")).as("sj"))
    val beta = alpha.where(col("nr1") > 0)
      .agg(dsum(col("t") / col("nr1")).as("b"))
    val ua = svec.join(broadcast(vdir), "dim").crossJoin(broadcast(beta))
      .select(col("dim"), (col("sj") - col("u") * col("b")).as("sa"))
    val sb2 = ub.agg(dsum(col("sb") * col("sb")).as("sq_b"))
    val sa2 = ua.agg(dsum(col("sa") * col("sa")).as("sq_a"))
    val cnt = embeddings(s, d).agg(count(lit(1)).as("n"))
    cnt.crossJoin(broadcast(n2)).crossJoin(broadcast(tr))
      .crossJoin(broadcast(sb2)).crossJoin(broadcast(sa2))
      .select(col("n"), (sqrt(col("ww2")) / col("tr")).as("lambda_share"),
        (sqrt(col("sq_b")) / col("n")).as("aniso_before"),
        (sqrt(col("sq_a")) / col("n")).as("aniso_after"))
  }

  /** Pseudo-relevance feedback retrieval (Rocchio): round 1 is v01\u0027s
    * exact-cosine top-5; the query vector then moves toward the
    * centroid of its top hits (q\u0027 = q + 0.75 * mean(top5)) and round 2
    * re-retrieves with the updated vector, flagging which results the
    * feedback round already had. The classic recall-boosting loop a
    * retrieval stack runs when no labeled relevance exists. All
    * round-2 linear algebra runs on the EXPLODED (id, dim, value)
    * table — feedback centroids are (q_id, dim)-keyed decimal sums,
    * query-candidate dots are dim-joined then (q_id, vec_id)-keyed
    * sums — so nothing depends on per-partition order and the corpus
    * never pairs with itself; the probe set (10 rows) bounds every
    * broadcast. */
  private val v36 = QDef(
    "v36_rocchio_prf", {
      val r1 =
        s"""e AS (SELECT vec_id, embedding FROM embeddings),
           |p1 AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           |    ${sqlDot("q.embedding", "c.embedding")} /
           |      (sqrt(${sqlDot("q.embedding", "q.embedding")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS sim
           |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM p1),
           |top1 AS (SELECT q_id, vec_id FROM r1 WHERE rank <= 5)""".stripMargin
      s"""WITH $r1,
         |ex AS (
         |  SELECT vec_id, t.di AS dim, CAST(embedding[t.di] AS DOUBLE) AS v
         |  FROM embeddings, unnest(range(1, 65)) AS t(di)),
         |fb AS (
         |  SELECT top1.q_id, ex.dim, ${sqlDsum("ex.v")} / 5 AS m
         |  FROM top1 JOIN ex ON top1.vec_id = ex.vec_id
         |  GROUP BY top1.q_id, ex.dim),
         |q2 AS (
         |  SELECT fb.q_id, fb.dim, qx.v + CAST(0.75 AS DOUBLE) * fb.m AS u
         |  FROM fb JOIN ex qx ON qx.vec_id = fb.q_id AND qx.dim = fb.dim),
         |qn AS (SELECT q_id, sqrt(${sqlDsum("u * u")}) AS qnrm FROM q2 GROUP BY q_id),
         |cn AS (SELECT vec_id, sqrt(${sqlDsum("v * v")}) AS cnrm FROM ex GROUP BY vec_id),
         |dots AS (
         |  SELECT q2.q_id, ex.vec_id, ${sqlDsum("ex.v * q2.u")} AS dp
         |  FROM ex JOIN q2 ON ex.dim = q2.dim AND ex.vec_id <> q2.q_id
         |  GROUP BY q2.q_id, ex.vec_id),
         |p2 AS (
         |  SELECT d.q_id, d.vec_id, d.dp / (qn.qnrm * cn.cnrm) AS sim2
         |  FROM dots d JOIN qn ON d.q_id = qn.q_id JOIN cn ON d.vec_id = cn.vec_id),
         |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim2 DESC, vec_id) AS rank FROM p2)
         |SELECT r2.q_id, r2.vec_id, r2.sim2, r2.rank,
         |  EXISTS(SELECT 1 FROM top1 WHERE top1.q_id = r2.q_id AND top1.vec_id = r2.vec_id) AS in_r1
         |FROM r2 WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
    }) { (s, d) =>
    import graft.util.Persist.Syntax
    // Decimal-exact dot product over two array<double> columns, kept in
    // ARRAY form: each product rounds to DECIMAL(30,6) and the fold adds
    // in DECIMAL(38,6) — addend-for-addend the same exact arithmetic as
    // `dsum(v * u)` over the exploded (vec_id, dim, v) long form (sum of
    // decimal(30,6) widens to the same (38,6); decimal addition is
    // associative so fold order is irrelevant), so the oracle hash is
    // unchanged. What IS gone (guide §2.3/§2.4, r14): the 64×-row
    // exploded corpus persist and the three full aggregates over it —
    // round-2 scoring was shuffling 64·N·|probes| exploded product rows
    // into a hash aggregate where a per-row 64-element fold does the
    // same exact math inside the scan stage.
    def decDot(a: String, b: String): Column = expr(
      s"""CAST(aggregate(zip_with($a, $b, (x, y) -> CAST(x * y AS DECIMAL(30, 6))),
         |  CAST(0 AS DECIMAL(38, 6)), (acc, z) -> acc + z) AS DOUBLE)""".stripMargin)
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val cand1 = e.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot("emb", "q_emb") / (norm("q_emb") * norm("emb")))
    val top1 = TopK.topK(cand1, Seq("q_id"), col("sim"), col("vec_id"), 5, asc = false)
      .select(col("q_id"), col("id").as("vec_id")).persistTracked()
    // feedback mean per (q_id, dim): explode only the 5·|probes| top-1
    // vectors (the r13 shape exploded the WHOLE corpus first and
    // filtered after)
    val fb = top1.join(e.select(col("vec_id"), col("emb")), "vec_id")
      .select(col("q_id"), posexplode(col("emb")).as(Seq("dim0", "v")))
      .groupBy(col("q_id"), col("dim0")).agg((dsum(col("v")) / 5).as("m"))
    // updated query vector u = q + 0.75·m, re-assembled into dim order
    // (dim0 is unique per q_id, so the array_sort is total) with its
    // norm alongside — one 10-row broadcast feeds round 2 entirely
    val q2 = fb.join(
        probes.select(col("q_id"), posexplode(col("q_emb")).as(Seq("dim0", "qv"))),
        Seq("q_id", "dim0"))
      .select(col("q_id"), col("dim0"),
        (col("qv") + lit(0.75) * col("m")).as("u"))
    val uv = q2.groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("dim0"), col("u")))).as("du"))
      .select(col("q_id"), expr("transform(du, x -> x.u)").as("uvec"))
      .withColumn("qnrm", sqrt(decDot("uvec", "uvec")))
    // corpus norms hoist BELOW the probe join: evaluated once per
    // vector instead of once per (vector, probe) pair — same
    // expression, same doubles, 1/|probes| of the fold work
    val en = e.select(col("vec_id"), col("emb"),
      sqrt(decDot("emb", "emb")).as("cnrm"))
    val p2 = en.join(broadcast(uv), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (decDot("emb", "uvec") / (col("qnrm") * col("cnrm"))).as("sim2"))
    TopK.topK(p2, Seq("q_id"), col("sim2"), col("vec_id"), 5, asc = false)
      .select(col("q_id"), col("id").as("vec_id"), col("ordv").as("sim2"), col("rank"))
      .join(top1.withColumn("in_r1", lit(true)), Seq("q_id", "vec_id"), "left")
      .withColumn("in_r1", coalesce(col("in_r1"), lit(false)))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ANN shard-assignment plan — how a serving fleet splits the IVF
    * lists across k shards: lists ranked by occupancy (heaviest first,
    * id tiebreak) and dealt round-robin, the standard
    * largest-first balancing heuristic; per shard, the list count,
    * vector load, and the load share whose spread is the imbalance a
    * router monitors. The rank window runs over the K-row list-size
    * table (bounded by the quantizer, not the corpus). */
  private val v37 = QDef(
    "v37_shard_plan",
    s"""$sqlIvfCtes,
       |ls AS (SELECT list_id, COUNT(*) AS occ FROM assign GROUP BY list_id),
       |rk AS (SELECT list_id, occ,
       |         ROW_NUMBER() OVER (ORDER BY occ DESC, list_id) AS r
       |       FROM ls),
       |sh AS (SELECT CAST((r - 1) % 4 AS BIGINT) AS shard, occ FROM rk)
       |SELECT shard, COUNT(*) AS n_lists, CAST(SUM(occ) AS BIGINT) AS n_vectors,
       |  CAST(SUM(occ) AS DOUBLE) / SUM(SUM(occ)) OVER () AS load_share
       |FROM sh GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ls = ivfAssign(embeddings(s, d)).groupBy(col("list_id"))
      .agg(count(lit(1)).as("occ"))
    val rk = ls.withColumn("r",
      row_number().over(Window.orderBy(col("occ").desc, col("list_id"))))
    rk.select((((col("r") - 1) % 4).cast("long")).as("shard"), col("occ"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_lists"), sum(col("occ")).cast("long").as("n_vectors"))
      .withColumn("load_share",
        col("n_vectors").cast("double") /
          sum(col("n_vectors")).over(Window.partitionBy()))
      .orderBy(col("shard"))
  }

  /** Approximate kNN-GRAPH construction — every corpus vector's top-3
    * cosine neighbors among its LSH-bucket mates, with the mutual-edge
    * flag (A in B's list AND B in A's). The kNN graph is the substrate
    * for SemDeDup-style clustering, kNN-graph community detection, and
    * HNSW ground layers; unlike v03's probe retrieval the JOIN IS
    * SELF-SYMMETRIC, so the scale discipline is bucket-bounded pair
    * work on both sides (candidates per vector ≤ bucket occupancy,
    * never the corpus) and the per-vector top-3 is the two-level TopK
    * aggregate. Mutuality is one key-only self-join of the 3N-row edge
    * list. Oracle replays the identical hyperplane buckets (v03's
    * integer-grid CTE) and window-ranks within bucket. */
  private val v38 = QDef(
    "v38_knn_graph",
    s"""WITH $sqlLshCtes,
       |p AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
       |    ${sqlDot("a.embedding", "b.embedding")} /
       |      (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS sim
       |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank FROM p),
       |g AS (SELECT vec_id, nb_id, sim, rank FROM r WHERE rank <= 3)
       |SELECT g.vec_id, g.nb_id, g.sim, g.rank,
       |  (m.vec_id IS NOT NULL) AS mutual
       |FROM g LEFT JOIN g m ON m.vec_id = g.nb_id AND m.nb_id = g.vec_id
       |ORDER BY g.vec_id, g.rank""".stripMargin) { (s, d) =>
    import graft.util.Persist.Syntax
    val e = embeddings(s, d).withColumn("bucket", lshBucket)
    val left = e.select(col("bucket"), col("vec_id"), col("emb"))
    val right = e.select(col("bucket"), col("vec_id").as("nb_id"),
      col("emb").as("nb_emb"))
    val cand = left.join(right, Seq("bucket"))
      .where(col("vec_id") =!= col("nb_id"))
      .withColumn("sim",
        dot("emb", "nb_emb") / (norm("emb") * norm("nb_emb")))
    val g = TopK.topK(cand, Seq("vec_id"), col("sim"), col("nb_id"), 3,
        asc = false)
      .select(col("vec_id"), col("id").as("nb_id"), col("ordv").as("sim"),
        col("rank"))
      .persistTracked()
    val rev = g.select(col("nb_id").as("vec_id"), col("vec_id").as("nb_id"),
      lit(true).as("mutual"))
    g.join(rev, Seq("vec_id", "nb_id"), "left")
      .select(col("vec_id"), col("nb_id"), col("sim"), col("rank"),
        coalesce(col("mutual"), lit(false)).as("mutual"))
      .orderBy(col("vec_id"), col("rank"))
  }
}
