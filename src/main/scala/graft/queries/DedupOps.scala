package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QDef, Tables}
import graft.util.Persist.Syntax

/** Sketch-based near-duplicate detection over `documents` — the core
  * LLM-pretraining dedup toolkit, all expressed as Catalyst expression
  * pipelines (higher-order functions, codegen'd; zero UDFs, zero
  * collect).
  *
  * Scale shape, identical for every sketch here:
  *   per-row signature (narrow) → explode to bucket keys (small constant
  *   blow-up) → shuffle on bucket → in-bucket self-join → pair verify.
  * At 100 TB the only shuffle is on the bucket key, and bucket width is
  * tunable (bands × rows for MinHash, chunk bits for SimHash), which is
  * exactly how skew is kept bounded.
  *
  * MinHash/LSH math follows Broder (1997) / MMDS ch.3: P[band match] =
  * 1-(1-j^r)^b with b=16 bands × r=4 rows here — threshold ≈ 0.5,
  * matching the est_jaccard ≥ 0.5 output gate (8×8 banding would miss
  * ~40% of 0.75-jaccard pairs).
  */
object DedupOps {

  def defs: Seq[QDef] = Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10,
    d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24,
    d25, d26)

  /** Non-empty whitespace tokens (SQL-expression fragment). */
  private val toksE = "filter(split(text, '\\\\s+'), x -> x != '')"

  /** Cross-engine md5-derived hashing + let-binding live in
    * [[CrossHash]]: h64 is used where the OUTPUT exposes hash values
    * (d02 hamming, d05 fingerprints) so the DuckDB oracle can reproduce
    * them; xxhash64 stays the production hash where it doesn't (d01's
    * verify-stage Jaccard). bind() prevents the CollapseProject lambda
    * blow-up (round 1: 448 s → ~2 s at sf0.1). */
  import CrossHash.{bind, h64E, sqlH64}

  /** Distinct word 3-gram shingles; whole text fallback for short docs.
    * The token array is let-bound FIRST: referencing `toksE` directly
    * inside the per-shingle lambda would re-split the full text once
    * per shingle index — O(tokens²) per document. */
  private val shinglesE = bind(toksE, "tk")(tk =>
    s"""CASE WHEN size($tk) >= 3
       |  THEN array_distinct(transform(sequence(0, size($tk) - 3),
       |         i -> array_join(slice($tk, i + 1, 3), ' ')))
       |  ELSE array(text) END""".stripMargin)

  /** Sorted distinct shingle-hash set — the shared sketch input. */
  private[graft] val shE = bind(shinglesE, "shs")(shs =>
    s"array_sort(array_distinct(transform($shs, x -> xxhash64(x))))")

  /** DuckDB CTEs shared by d01 and d06: word-3-gram shingle sets,
    * brute-force all-pairs intersection counts, and the exact-Jaccard
    * ≥ 0.5 verified pairs. Plain (non-interpolated) literals so `\s+`
    * stays a literal regex. */
  private val oracleShingleCte =
    """t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 3
      |      THEN list_distinct(list_transform(
      |             range(1, len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) - 1),
      |             i -> list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i] || ' ' ||
      |                  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i+1] || ' ' ||
      |                  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i+2]))
      |      ELSE [text] END AS sh
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
      |    len(a.sh) + len(b.sh) AS total
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
      |vp AS (
      |  SELECT a, b, CAST(inter AS DOUBLE) / (total - inter) AS jaccard
      |  FROM p WHERE total - inter > 0 AND CAST(inter AS DOUBLE) / (total - inter) >= 0.5)""".stripMargin

  /** The shared candidate+verify pair stage behind d01 and d06 (see
    * d01's scaladoc for the LSH design notes). Returns the exact
    * verified (a, b, jaccard) pairs, unordered. */
  private def lshVerifiedPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    lshVerifiedPairsOf(s, Tables.documents(s, d))

  /** [[lshVerifiedPairs]] over an arbitrary (doc_id, text) frame — the
    * survivors of an upstream filter stage (d21's funnel), an
    * incremental shard, etc. */
  private def lshVerifiedPairsOf(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame = {
    graft.functions.SketchFunctions.registerAll(s)
    // NOT persisted (r13 measured): the shingle battery runs up to
    // three times (both self-join sides — AQE reuses that exchange at
    // runtime — plus the verify fetch), but caching it costs MORE: the
    // columnar encode/decode of array<long> rows plus the materialization
    // barrier beat the recompute at every scale tried, and at 100 TB a
    // cache of the full corpus' shingle sets is another corpus-sized
    // disk write+read vs pure CPU over an already-read scan.
    val t = docs.select(col("doc_id"), expr(shE).as("sh"))
    // no user repartition here: the self-join's own ENSURE_REQUIREMENTS
    // exchanges canonicalize identically, so Spark computes the sketch
    // ONCE and reuses the shuffle (ReusedExchange) — and, unlike a
    // REPARTITION_BY_COL exchange, they stay eligible for AQE's runtime
    // skew-split when one band bucket goes hot (LshSkewSpec)
    val banded = t
      .select(col("doc_id"), posexplode(expr(
        bind("minhash_sig(sh)", "sg")(sg =>
          s"transform(sequence(0, 15), b -> xxhash64(slice($sg, b * 4 + 1, 4)))")))
        .as(Seq("band", "bhash")))
    // opt-in fail-fast (spark.graft.join.max_candidate_pairs): an
    // all-near-identical corpus puts every doc in every band bucket and
    // the bucket self-join degenerates toward |corpus|² — the budget
    // aborts loudly before it launches (AQE skew-split only rebalances
    // the pair work, it cannot shrink a pair count that is the output)
    graft.operators.PairBudget.guardSelfJoin(banded, Seq("band", "bhash"),
      "LSH band-bucket self-join (MinHash candidate stage)")
    val l = banded.select(col("band"), col("bhash"), col("doc_id").as("a"))
    val r = banded.select(col("band"), col("bhash"), col("doc_id").as("b"))
    val pairs = l.hint("shuffle_hash").join(r, Seq("band", "bhash"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b")
    // fetch both sides' shingle sets in ONE pass over t (explode each
    // pair to its two member ids, join, regroup). r13 tried the
    // "simpler" two-direct-key-joins shape and the ×100 smoke rejected
    // it: two joins evaluate AND shuffle the corpus-sized sketch frame
    // twice (d01's scaled leg went 13.4 s → 45.6 s), while this shape's
    // extra costs — the exploded pair stream and the (a, b) regroup
    // (sort-based, array first() can't hash-aggregate) — scale with the
    // CANDIDATE-PAIR count, which dedup keeps small by construction.
    // Pair-proportional overhead beats corpus-proportional recompute.
    val fetched = pairs
      .select(col("a"), col("b"), explode(array(col("a"), col("b"))).as("doc_id"))
      .join(t, Seq("doc_id"))
      .groupBy(col("a"), col("b"))
      .agg(
        first(when(col("doc_id") === col("a"), col("sh")), ignoreNulls = true).as("sh_a"),
        first(when(col("doc_id") === col("b"), col("sh")), ignoreNulls = true).as("sh_b"))
    fetched
      .withColumn("inter", expr("sorted_intersect_size(sh_a, sh_b)"))
      .withColumn("total", size(col("sh_a")) + size(col("sh_b")))
      .filter(col("total") - col("inter") > 0)
      .withColumn("jaccard", col("inter").cast("double") / (col("total") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** MinHash (64 perms as splitmix-mixed minima of one xxhash64 per
    * shingle, `MinHashSig` codegen kernel) + LSH banding (16×4) as the
    * CANDIDATE stage, then an exact-Jaccard VERIFY stage over the
    * candidate pairs — the standard two-phase MinHash-LSH dedup
    * pipeline. Only (band, bhash, doc_id) flows through the banding
    * shuffle; the shingle sets are fetched by rejoining the (tiny)
    * candidate set, so shuffle width stays constant no matter how wide
    * the documents are. Output is exact Jaccard ≥ 0.5, which a
    * brute-force DuckDB oracle verifies bit-exactly; with 16×4 banding
    * the candidate-stage miss probability (1-j^4)^16 is ≤ 2e-4 for the
    * j ≥ 0.8 near-dup pairs present in the corpus (there are no pairs
    * at all in [0.35, 0.8), so the gate is far from any boundary). */
  private val d01 = QDef(
    "d01_minhash_lsh_pairs",
    "WITH " + oracleShingleCte + "\n" +
      "SELECT a, b, jaccard FROM vp ORDER BY a, b") { (s, d) =>
    lshVerifiedPairs(s, d).orderBy(col("a"), col("b"))
  }

  /** SimHash (Charikar 2002): 64-bit token-majority fingerprint, then
    * hamming-≤3 candidate pairs via 4×16-bit chunk pigeonhole. The
    * pigeonhole is recall-COMPLETE for the ≤3 gate (4 chunks, ≤3
    * differing bits → some chunk is untouched), so the output equals
    * the brute-force all-pairs answer and a DuckDB oracle can verify it
    * exactly; token hashes are md5-derived ([[h64E]]) for the same
    * reason. Bits 60-63 of the fingerprint are structurally 0 (60-bit
    * hashes → majority of zero ones), identically in both engines. */
  private val d02 = QDef(
    "d02_simhash_pairs",
    s"""WITH tk AS (
       |  SELECT doc_id, list_transform(
       |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> ${sqlH64("t")}) AS hs
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, CASE WHEN len(hs) = 0 THEN 0 ELSE
       |    CAST(list_sum(list_transform(range(0, 60), b ->
       |      CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) >= len(hs)
       |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
       |    END AS sh
       |  FROM tk)
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY a, b""".stripMargin) { (s, d) =>
    graft.functions.SketchFunctions.registerAll(s)
    val simE = s"simhash64(transform($toksE, t -> ${h64E("t")}))"
    val sim = Tables.documents(s, d)
      .select(col("doc_id"), expr(simE).as("simhash"))
    val chunked = sim.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), i -> (shiftright(simhash, i * 16) & 65535))"))
        .as(Seq("chunk_idx", "chunk"))) // exchange reused + skew-split eligible (see d01)
    val l = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("a"), col("simhash").as("sh_a"))
    val r = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("b"), col("simhash").as("sh_b"))
    l.hint("shuffle_hash").join(r, Seq("chunk_idx", "chunk"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("sh_a"), col("sh_b"))
      .dropDuplicates("a", "b")
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= 3)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** Exact n-gram Jaccard on blocked candidate pairs (same lang +
    * length bucket) — the verify stage after any sketch prefilter.
    * Oracle-checked: set algebra is integer-exact in both engines. */
  private val d03 = QDef(
    "d03_ngram_jaccard_pairs",
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars // 64 AS len_bucket,
      |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 3
      |      THEN list_distinct(list_transform(
      |             range(1, len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) - 1),
      |             i -> list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i] || ' ' ||
      |                  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i+1] || ' ' ||
      |                  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i+2]))
      |      ELSE [text] END AS sh
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
      |    len(a.sh) + len(b.sh) AS total
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
      |SELECT a, b, CAST(inter AS DOUBLE) / (total - inter) AS jaccard
      |FROM p WHERE total - inter > 0 AND CAST(inter AS DOUBLE) / (total - inter) >= 0.3
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    // intersect 64-bit shingle hashes, not strings: set sizes (and so
    // the jaccard) are identical modulo 64-bit collisions, and integer
    // set ops are ~5x cheaper than UTF8 ones over 400k candidate pairs.
    // Arrays are kept sorted so the pair verify is a linear merge
    // (`sorted_intersect_size` kernel), not a hash set per pair.
    graft.functions.SketchFunctions.registerAll(s)
    val t = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      (col("n_chars") / 64).cast("long").as("len_bucket"),
      expr(bind(shinglesE, "shs")(shs =>
        s"array_sort(array_distinct(transform($shs, x -> xxhash64(x))))")).as("sh"))
      // exchange reused + skew-split eligible (see d01)
    val l = t.select(col("lang"), col("len_bucket"), col("doc_id").as("a"), col("sh").as("sh_a"))
    val r = t.select(col("lang"), col("len_bucket"), col("doc_id").as("b"), col("sh").as("sh_b"))
    l.hint("shuffle_hash").join(r, Seq("lang", "len_bucket"))
      .where(col("a") < col("b"))
      .withColumn("inter", expr("sorted_intersect_size(sh_a, sh_b)"))
      .withColumn("total", size(col("sh_a")) + size(col("sh_b")))
      .filter(col("total") - col("inter") > 0)
      .withColumn("jaccard", col("inter").cast("double") / (col("total") - col("inter")))
      .filter(col("jaccard") >= 0.3)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  /** Language ID by stopword-profile scoring (n-gram-free heuristic;
    * deterministic argmax with alphabetical tie-break). */
  /** DuckDB CTE `lp` = (doc_id, lang, pred_lang) — d04's stopword-
    * profile classifier, shared with the d22 eval card so the evaluated
    * model IS the deployed one. */
  private val sqlLangPredCte: String = {
    val scores = profiles.map { case (lg, ws) =>
      val set = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), t -> list_contains($set, t))) AS s_$lg"
    }.mkString(",\n    ")
    val best = profiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    val caseArm = profiles.map { case (lg, _) =>
      s"WHEN s_$lg = $best THEN '$lg'" }.mkString("\n    ")
    s"""lpt AS (SELECT doc_id, lang,
       |    $scores
       |  FROM documents),
       |lp AS (SELECT doc_id, lang, CASE $caseArm END AS pred_lang FROM lpt)""".stripMargin
  }

  /** (doc_id, lang, pred_lang) — the Spark side of [[sqlLangPredCte]]. */
  private def langPred(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val withScores = profiles.foldLeft(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (lg, ws)) =>
        val set = ws.map(w => s"'$w'").mkString("array(", ",", ")")
        df.withColumn(s"s_$lg",
          expr(s"size(filter($toksE, t -> array_contains($set, t)))"))
    }
    val best = greatest(profiles.map(p => col(s"s_${p._1}")): _*)
    // foldRight builds WHEN de ... WHEN zh with first-match-wins on the
    // OUTERMOST when — mirror the SQL CASE order (alphabetical).
    val pred = profiles.foldRight(lit(null).cast("string")) {
      case ((lg, _), acc) => when(col(s"s_$lg") === best, lit(lg)).otherwise(acc)
    }
    withScores.withColumn("pred_lang", pred)
      .select(col("doc_id"), col("lang"), col("pred_lang"))
  }

  private val d04 = QDef(
    "d04_langid",
    s"""WITH $sqlLangPredCte
       |SELECT doc_id, lang, pred_lang, (pred_lang = lang) AS hit
       |FROM lp ORDER BY doc_id""".stripMargin) { (s, d) =>
    langPred(s, d)
      .withColumn("hit", col("pred_lang") === col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003): rolling 4-gram
    * hashes, window-5 minima, distinct sorted fingerprint set. The
    * driver comparator can't sort array columns, so the set is reported
    * through order-independent scalar digests (count / min / max / xor);
    * the full set is asserted in DedupVectorSpec. Gram hashes are
    * md5-derived ([[h64E]]) so the DuckDB oracle reproduces the exact
    * fingerprint values. */
  private val d05 = QDef(
    "d05_winnow_fingerprints",
    s"""WITH tk AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 4
       |    THEN list_transform(range(1, len(tk) - 2),
       |           i -> ${sqlH64("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]")})
       |    ELSE [${sqlH64("text")}] END AS gr
       |  FROM tk),
       |f AS (
       |  SELECT doc_id, CASE WHEN len(gr) >= 5
       |    THEN list_sort(list_distinct(list_transform(range(1, len(gr) - 3),
       |           j -> list_aggregate(gr[j:j+4], 'min'))))
       |    ELSE [list_aggregate(gr, 'min')] END AS fp
       |  FROM g)
       |SELECT doc_id, CAST(len(fp) AS INTEGER) AS n_fp,
       |  list_aggregate(fp, 'min') AS fp_min,
       |  list_aggregate(fp, 'max') AS fp_max,
       |  list_reduce(fp, (a, b) -> xor(a, b)) AS fp_xor
       |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    val gramsE = bind(toksE, "tk")(tk =>
      s"""CASE WHEN size($tk) >= 4
         |  THEN transform(sequence(0, size($tk) - 4),
         |         i -> ${h64E(s"array_join(slice($tk, i + 1, 4), ' ')")})
         |  ELSE array(${h64E("text")}) END""".stripMargin)
    val fpsE = bind(gramsE, "gr")(gr =>
      s"""CASE WHEN size($gr) >= 5
         |  THEN array_sort(array_distinct(transform(sequence(0, size($gr) - 5),
         |         j -> array_min(slice($gr, j + 1, 5)))))
         |  ELSE array(array_min($gr)) END""".stripMargin)
    Tables.documents(s, d)
      .select(col("doc_id"), expr(fpsE).as("fingerprints"))
      .select(col("doc_id"),
        size(col("fingerprints")).as("n_fp"),
        expr("array_min(fingerprints)").as("fp_min"),
        expr("array_max(fingerprints)").as("fp_max"),
        expr("aggregate(fingerprints, CAST(0 AS BIGINT), (a, x) -> a ^ x)").as("fp_xor"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over the verified near-dup pair graph — the
    * CLUSTERING stage every production dedup pipeline runs after pair
    * finding (RefinedWeb / CCNet shape: near-dup pairs → components →
    * keep one canonical doc per component). Component id = min doc_id
    * reachable, canonical doc = the member equal to that min.
    *
    * Scale shape: iterative min-label propagation
    * ([[graft.operators.Components.minLabel]]) — each round is one
    * hash-join shuffle keyed on the edge endpoint plus a map-side-
    * combined min aggregate, and the loop runs O(graph diameter)
    * rounds. Near-dup components are small and star-like (a cluster of
    * mutual near-dups), so 2-4 rounds close at any corpus size; no
    * all-pairs work and no driver-side graph ever materializes.
    * The DuckDB oracle replays the
    * same fixpoint as a recursive reachability CTE — tractable because
    * the ORACLE graph (sf0.01) is tiny, while the Spark side never
    * computes transitive closure. */
  private val d06 = QDef(
    "d06_dedup_components",
    "WITH RECURSIVE " + oracleShingleCte + ",\n" +
      """e AS (SELECT a AS src, b AS dst FROM vp
        |       UNION SELECT b AS src, a AS dst FROM vp),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src)
        |SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS csize,
        |  (doc_id = component) AS keep
        |FROM comp
        |ORDER BY component, doc_id""".stripMargin) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
    val labels = graft.operators.Components.minLabel(
      edges, edges.select(col("src").as("v")))
    pairs.unpersist()
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("csize"))
    labels.join(sizes, Seq("comp"))
      .select(col("v").as("doc_id"), col("comp").as("component"),
        col("csize"), (col("v") === col("comp")).as("keep"))
      .orderBy(col("component"), col("doc_id"))
  }

  /** Edit-distance near-dup verification — the character-level second
    * opinion after the sketch prefilter: for every LSH-verified
    * candidate pair, the exact Levenshtein distance and the normalized
    * edit similarity 1 − dist/max(len), with the ≥0.8 dup decision.
    * The standard fuzzy-dedup composition (sketch candidates → O(len²)
    * DP only on the surviving pairs — never all-pairs, which is what
    * makes character-exact verification affordable at 100 TB; pair
    * count is the LSH output, each DP is per-row CPU with no shuffle
    * beyond the d01 stages).
    *
    * Oracle note: `levenshtein` is unit-cost DP in both engines; DuckDB
    * counts UTF-8 bytes where Spark counts characters, which agree on
    * this corpus (fixture text is pure ASCII — asserted cheaply via
    * strlen = length in the oracle's WHERE-free form). Spark's
    * character semantics is the production-correct one. */
  private val d07 = QDef(
    "d07_editdist_verify",
    "WITH " + oracleShingleCte + ",\n" +
      """tx AS (SELECT doc_id, text FROM documents),
        |m AS (
        |  SELECT vp.a, vp.b, vp.jaccard,
        |    CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS edit_dist,
        |    greatest(length(ta.text), length(tb.text)) AS mx
        |  FROM vp JOIN tx ta ON ta.doc_id = vp.a
        |          JOIN tx tb ON tb.doc_id = vp.b)
        |SELECT a, b, jaccard, edit_dist,
        |  CASE WHEN mx = 0 THEN CAST(1 AS DOUBLE)
        |       ELSE CAST(1 AS DOUBLE) - CAST(edit_dist AS DOUBLE) / mx END AS edit_sim,
        |  (CASE WHEN mx = 0 THEN CAST(1 AS DOUBLE)
        |        ELSE CAST(1 AS DOUBLE) - CAST(edit_dist AS DOUBLE) / mx END)
        |    >= CAST(0.8 AS DOUBLE) AS is_dup
        |FROM m ORDER BY a, b""".stripMargin) { (s, d) =>
    val tx = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // one pass over documents for both sides (d01's fetch pattern; the
    // r13 two-join variant was rejected by the ×100 smoke for the same
    // corpus-vs-pair-proportional reason as the shared verify fetch)
    val fetched = lshVerifiedPairs(s, d)
      .select(col("a"), col("b"), col("jaccard"),
        explode(array(col("a"), col("b"))).as("doc_id"))
      .join(tx, Seq("doc_id"))
      .groupBy(col("a"), col("b"), col("jaccard"))
      .agg(
        first(when(col("doc_id") === col("a"), col("text")), ignoreNulls = true).as("ta"),
        first(when(col("doc_id") === col("b"), col("text")), ignoreNulls = true).as("tb"))
    fetched
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")))
      .withColumn("mx", greatest(length(col("ta")), length(col("tb"))))
      .withColumn("edit_sim",
        when(col("mx") === 0, lit(1.0).cast("double"))
          .otherwise(lit(1).cast("double") -
            col("edit_dist").cast("double") / col("mx")))
      .select(col("a"), col("b"), col("jaccard"), col("edit_dist"),
        col("edit_sim"), (col("edit_sim") >= lit(0.8).cast("double")).as("is_dup"))
      .orderBy(col("a"), col("b"))
  }

  /** Content-defined chunking (CDC): token-level rolling-hash boundary
    * detection (boundary after position i when the 3-token gram hash ≡
    * 0 mod 16 → ~16-token average chunks), then corpus-global
    * first-occurrence-wins chunk dedup. Unlike t15's fixed windows, CDC
    * boundaries re-synchronize after an insertion — a doc with an added
    * prefix still shares every chunk downstream of the first boundary,
    * which is why backup/dedup systems (LBFS, FastCDC) chunk this way.
    *
    * Per-row expression work to chunk (zero shuffle), one window over
    * the chunk-hash key to pick winners — the t15 scale shape with a
    * content-derived chunk grid. */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val spansE = bind(toksE, "tk")(tk =>
      bind(
        s"""concat(array(0),
           |  CASE WHEN size($tk) >= 3 THEN
           |    filter(transform(sequence(3, size($tk)),
           |      i -> IF(${h64E(s"array_join(slice($tk, i - 2, 3), ' ')")} % 16 = 0, i, -1)),
           |      p -> p != -1)
           |  ELSE array() END,
           |  array(size($tk)))""".stripMargin, "P")(P =>
        s"""filter(transform(sequence(1, size($P) - 1),
           |  j -> struct(element_at($P, j) AS st,
           |              element_at($P, j + 1) - element_at($P, j) AS ntok,
           |              array_join(slice($tk, element_at($P, j) + 1,
           |                element_at($P, j + 1) - element_at($P, j)), ' ') AS txt)),
           |  c -> c.ntok > 0)""".stripMargin))
    val exploded = docs
      .select(col("doc_id"), posexplode(expr(spansE)).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.st").cast("long").as("start_tok"),
        col("c.ntok").cast("long").as("n_tok"),
        expr(h64E("c.txt")).as("chunk_hash"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_hash")).orderBy(col("doc_id"), col("start_tok"))
    exploded
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val d09 = QDef(
    "d09_cdc_chunks",
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, tk,
       |    list_concat(list_concat([CAST(0 AS BIGINT)],
       |      CASE WHEN len(tk) >= 3 THEN
       |        list_filter(list_transform(range(3, len(tk) + 1),
       |          i -> CASE WHEN ${sqlH64("array_to_string(tk[i-2:i], ' ')")} % 16 = 0
       |               THEN i ELSE CAST(-1 AS BIGINT) END), p -> p <> -1)
       |      ELSE CAST([] AS BIGINT[]) END),
       |      [len(tk)]) AS P
       |  FROM tk),
       |s AS (
       |  SELECT doc_id,
       |    unnest(list_filter(list_transform(range(1, len(P)),
       |      j -> {'st': P[j], 'ntok': P[j + 1] - P[j],
       |            'txt': array_to_string(tk[P[j] + 1 : P[j + 1]], ' ')}),
       |      c -> c.ntok > 0)) AS c
       |  FROM b),
       |r AS (
       |  SELECT doc_id, c.st AS start_tok, c.ntok AS n_tok, c.txt AS txt,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c.st) - 1 AS chunk_idx
       |  FROM s),
       |f AS (
       |  SELECT doc_id, chunk_idx, start_tok, n_tok, ${sqlH64("txt")} AS chunk_hash,
       |    ROW_NUMBER() OVER (PARTITION BY ${sqlH64("txt")} ORDER BY doc_id, start_tok) AS rn
       |  FROM r)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok, CAST(n_tok AS BIGINT) AS n_tok,
       |  chunk_hash, rn = 1 AS keep
       |FROM f ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    cdcChunks(Tables.documents(s, d))
  }

  /** PageRank over the near-dup graph, two power-iteration rounds
    * unrolled — importance scoring for canonical-doc selection (pick
    * the most-connected member of a dup cluster instead of min-id).
    * Each round is ONE key-join shuffle (edges ⋈ current scores) plus a
    * map-side-combined aggregate on the destination key — the d06
    * propagation shape with weights, so the 100 TB posture is
    * identical: bounded-width rows, no driver-side graph, rounds
    * O(iterations). Neighbor sums go through [[graft.util.Det.dsum]]
    * (exact decimal, order-free) and the damping constants are written
    * as the same IEEE expressions in both engines, so both rounds
    * replay bit-exactly in the oracle. */
  private val d08 = QDef(
    "d08_pagerank_graph",
    "WITH " + oracleShingleCte + ",\n" +
      s"""e AS (SELECT a AS src, b AS dst FROM vp
         |       UNION ALL SELECT b AS src, a AS dst FROM vp),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |p0 AS (SELECT d.src, d.deg, CAST(1 AS DOUBLE) / nn.n AS pr FROM deg d, nn),
         |r1 AS (SELECT e.dst AS src, ${graft.util.Det.sqlDsum("p0.pr / p0.deg")} AS s
         |       FROM e JOIN p0 ON p0.src = e.src GROUP BY e.dst),
         |p1 AS (SELECT r1.src, d.deg,
         |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         |           + CAST(0.85 AS DOUBLE) * r1.s AS pr
         |       FROM r1 JOIN deg d ON d.src = r1.src, nn),
         |r2 AS (SELECT e.dst AS src, ${graft.util.Det.sqlDsum("p1.pr / p1.deg")} AS s
         |       FROM e JOIN p1 ON p1.src = e.src GROUP BY e.dst),
         |p2 AS (SELECT r2.src, d.deg,
         |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         |           + CAST(0.85 AS DOUBLE) * r2.s AS pr
         |       FROM r2 JOIN deg d ON d.src = r2.src, nn)
         |SELECT p1.src AS doc_id, CAST(p1.deg AS BIGINT) AS degree,
         |  p1.pr AS pr1, p2.pr AS pr2
         |FROM p1 JOIN p2 ON p2.src = p1.src
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.util.Det.dsum
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    // localCheckpoint, not persist (r13, the minLabel lesson): both
    // pagerank rounds and the degree table reference this frame, and a
    // persisted-but-lineage-intact edge set makes every downstream
    // Dataset op re-analyze the whole LSH pipeline tree on the driver;
    // the eager checkpoint flattens it to a leaf once
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
      .checkpointTracked()
    // degree table is joined in every round (and n derives from it):
    // persist so the rounds rebuild neither the edge aggregate nor the
    // upstream LSH pipeline
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persistTracked()
    val n = deg.agg(count(lit(1)).as("n"))
    val damp = lit(0.85).cast("double")
    val base = lit(1.0).cast("double") - damp
    val pr0 = deg.crossJoin(broadcast(n))
      .withColumn("pr", lit(1.0).cast("double") / col("n"))
      .select(col("src"), col("deg"), col("pr"))
    def round(prev: DataFrame): DataFrame =
      edges
        .join(prev.withColumnRenamed("src", "u")
          .withColumnRenamed("deg", "u_deg"), col("u") === col("src"))
        .withColumn("c", col("pr") / col("u_deg"))
        .groupBy(col("dst")).agg(dsum(col("c")).as("s"))
        .withColumnRenamed("dst", "v")
        .join(deg.withColumnRenamed("src", "v"), Seq("v"))
        .crossJoin(broadcast(n))
        .select(col("v").as("src"), col("deg"),
          (base / col("n") + damp * col("s")).as("pr"))
    val pr1 = round(pr0)
    val pr2 = round(pr1)
    pr1.select(col("src").as("doc_id"), col("deg").cast("long").as("degree"),
        col("pr").as("pr1"))
      .join(pr2.select(col("src").as("doc_id"), col("pr").as("pr2")), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Triangle counting + local clustering coefficient over the verified
    * near-dup graph — the structure audit that separates tight dup
    * CLIQUES (safe to collapse to one canonical doc) from loose CHAINS
    * (a–b and b–c similar but a–c not; collapsing would over-delete).
    *
    * Spark side uses the degree-ordered orientation (MapReduce triangle
    * enumeration, Suri & Vassilvitskii 2011): each undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher, wedges
    * are enumerated only at each vertex's out-neighbors (out-degree is
    * O(√m) regardless of hub skew), and a wedge closes iff its
    * rank-oriented closure edge exists. Each triangle is found exactly
    * once, at its minimum-rank vertex; pair work is Σ out-deg² — the
    * property that makes triangle counting survive power-law graphs at
    * 100 TB where naive neighbor self-joins explode on hubs. The oracle
    * enumerates a<b<c id-ordered triangles — a different traversal of
    * the same set, so the per-node counts agree exactly. */
  private val d10 = QDef(
    "d10_triangle_stats",
    "WITH " + oracleShingleCte + ",\n" +
      """deg AS (
        |  SELECT n, COUNT(*) AS deg FROM (
        |    SELECT a AS n FROM vp UNION ALL SELECT b AS n FROM vp)
        |  GROUP BY n),
        |tr AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM vp e1 JOIN vp e2 ON e2.a = e1.b
        |       JOIN vp e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT n, COUNT(*) AS tri FROM (
        |    SELECT x AS n FROM tr UNION ALL SELECT y AS n FROM tr
        |    UNION ALL SELECT z AS n FROM tr)
        |  GROUP BY n)
        |SELECT deg.n AS doc_id, CAST(deg.deg AS BIGINT) AS degree,
        |  CAST(coalesce(tc.tri, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN deg.deg >= 2
        |    THEN CAST(2 * coalesce(tc.tri, 0) AS DOUBLE) / (deg.deg * (deg.deg - 1))
        |    ELSE NULL END AS clustering
        |FROM deg LEFT JOIN tc ON tc.n = deg.n
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val deg = pairs.select(col("a").as("n"))
      .union(pairs.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg")).persistTracked()
    // rank = the (deg, id) STRUCT, compared lexicographically — unique
    // because ids are unique, and safe for any id domain (arithmetic
    // packing deg*1e9 + id breaks the total order past 1e9 ids)
    val ranked = pairs
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("ra", struct(col("deg_a").as("deg"), col("a").as("id")))
      .withColumn("rb", struct(col("deg_b").as("deg"), col("b").as("id")))
    val eo = ranked.select(
      when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("ra") < col("rb"), col("rb")).otherwise(col("ra")).as("dst_rank"))
      .persistTracked()
    val wedges = eo.as("x").join(eo.as("y"),
        col("x.src") === col("y.src") && col("x.dst_rank") < col("y.dst_rank"))
      .select(col("x.src").as("apex"), col("x.dst").as("lo"), col("y.dst").as("hi"))
    val tri = wedges.join(
      eo.select(col("src").as("lo"), col("dst").as("hi")), Seq("lo", "hi"))
    val tc = tri
      .select(explode(array(col("apex"), col("lo"), col("hi"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    deg.join(tc, Seq("n"), "left")
      .select(col("n").as("doc_id"),
        col("deg").cast("long").as("degree"),
        coalesce(col("tri"), lit(0L)).cast("long").as("n_triangles"),
        when(col("deg") >= 2,
          (lit(2L) * coalesce(col("tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - lit(1L))))
          .as("clustering"))
      .orderBy(col("doc_id"))
  }

  /** Incremental-ingest dedup: a NEW shard (sources src18/src19 — the
    * "latest dump") dedups against the already-ingested BASE corpus and
    * against itself in ingestion order. A new doc is rejected when it is
    * an LSH-verified near-dup (exact Jaccard ≥ 0.5) of any base doc or
    * of an earlier (lower doc_id) new doc — the per-dump dedup pass
    * every production pipeline runs on each crawl snapshot, without
    * re-deduplicating the base corpus against itself.
    *
    * Scale note: this form reuses the symmetric banding join and
    * classifies pairs afterwards — the same shuffle as d01. The
    * stored-index variant (band hashes of the base corpus persisted
    * once, only the new shard banded per dump — the AnnIndex shape for
    * text) changes WHERE the base bands come from, not the join
    * geometry: the per-dump shuffle is new-shard-sized either way. */
  private val d11 = QDef(
    "d11_incremental_dedup",
    "WITH " + oracleShingleCte + ",\n" +
      """nd AS (SELECT doc_id, source IN ('src18', 'src19') AS is_new FROM documents),
        |e AS (SELECT a AS x, b AS y FROM vp UNION ALL SELECT b AS x, a AS y FROM vp),
        |cl AS (
        |  SELECT e.x AS doc_id,
        |    CAST(SUM(CASE WHEN NOT ny.is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_base_dups,
        |    CAST(SUM(CASE WHEN ny.is_new AND e.y < e.x THEN 1 ELSE 0 END) AS BIGINT) AS n_earlier_new_dups
        |  FROM e JOIN nd nx ON nx.doc_id = e.x
        |         JOIN nd ny ON ny.doc_id = e.y
        |  WHERE nx.is_new GROUP BY e.x)
        |SELECT d.doc_id,
        |  coalesce(cl.n_base_dups, 0) AS n_base_dups,
        |  coalesce(cl.n_earlier_new_dups, 0) AS n_earlier_new_dups,
        |  coalesce(cl.n_base_dups, 0) = 0
        |    AND coalesce(cl.n_earlier_new_dups, 0) = 0 AS accept
        |FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        |WHERE d.source IN ('src18', 'src19')
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source").isin("src18", "src19").as("is_new"))
      .persistTracked()
    // stays LAZY (r13, measured): an eager checkpoint here forces the
    // full LSH pipeline to materialize, but this query's consumers can
    // legally skip most of it — e.g. Catalyst pushes the is_new filter
    // into the pair derivation, and a count-only action eliminates the
    // unique-key left join outright. Never force work the action can
    // prove away.
    val p = lshVerifiedPairs(s, d).select(col("a"), col("b"))
    val e = p.union(p.select(col("b"), col("a"))).toDF("x", "y")
    val cl = e
      .join(docs.select(col("doc_id").as("x"), col("is_new").as("x_new")), Seq("x"))
      .where(col("x_new"))
      .join(docs.select(col("doc_id").as("y"), col("is_new").as("y_new")), Seq("y"))
      .groupBy(col("x"))
      .agg(
        sum(when(!col("y_new"), 1L).otherwise(0L)).as("n_base_dups"),
        sum(when(col("y_new") && col("y") < col("x"), 1L).otherwise(0L))
          .as("n_earlier_new_dups"))
    docs.where(col("is_new")).select(col("doc_id"))
      .join(cl.withColumnRenamed("x", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_base_dups"), lit(0L)).as("n_base_dups"),
        coalesce(col("n_earlier_new_dups"), lit(0L)).as("n_earlier_new_dups"),
        (coalesce(col("n_base_dups"), lit(0L)) === 0 &&
          coalesce(col("n_earlier_new_dups"), lit(0L)) === 0).as("accept"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-free train/eval split: the split decision is made per
    * NEAR-DUP COMPONENT (d06's graph), not per document — every member
    * of a component lands on the same side, so no eval document has a
    * near-duplicate in train. This closes the leak t09 detects in the
    * naive per-document split (t08): a doc-level hash split puts ~25%
    * of each dup cluster's members on the other side, and the model
    * effectively trains on its own eval set. Singleton docs (no
    * near-dup) are their own component.
    *
    * Scale shape: d06's O(diameter) label propagation + one doc-key
    * left join + per-row hash — the split itself adds nothing beyond
    * the dedup pass the pipeline already runs. */
  private val d12 = QDef(
    "d12_leakfree_split",
    "WITH RECURSIVE " + oracleShingleCte + ",\n" +
      """e AS (SELECT a AS src, b AS dst FROM vp
        |       UNION SELECT b AS src, a AS dst FROM vp),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |ac AS (
        |  SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id)
        |SELECT doc_id, component,
        |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize,
        |  CASE WHEN substring(md5(CAST(component AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |       THEN 'eval' ELSE 'train' END AS split
        |FROM ac ORDER BY doc_id""".stripMargin) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
    val labels = graft.operators.Components.minLabel(
      edges, edges.select(col("src").as("v")))
    val ac = Tables.documents(s, d).select(col("doc_id"))
      .join(labels.select(col("v").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
    val sizes = ac.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    ac.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"),
        when(substring(md5(col("component").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"), "eval").otherwise("train").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Sketch-threshold calibration audit — "measure, don't guess" for
    * the dedup gates: on an ABSOLUTE-size deterministic sample (the
    * 1000 docs with smallest h64(doc_id) — a cross-engine reservoir,
    * so the quadratic stage is ≤ ~500k pairs at ANY corpus size; a
    * fractional sample was the engine's one super-linear stage, 10x
    * data → 100x pairs), EVERY pair's SimHash Hamming distance is
    * compared against its exact shingle Jaccard, bucketed by distance.
    * The output is the calibration curve a pipeline reads before
    * picking d02's hamming gate: which distance bucket still holds
    * true dups, and how sharply dup concentration decays. The all-pairs
    * join is deliberate and constant-bounded — that is the audit's
    * cost model.
    *
    * The jaccard side intersects 64-bit shingle hashes (sizes are
    * engine-independent); the simhash side is the h64/md5-derived
    * fingerprint, so DuckDB rebuilds both bit-for-bit. */
  private val d13 = QDef(
    "d13_sketch_calibration",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) >= 3
       |      THEN list_distinct(list_transform(
       |             range(1, len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) - 1),
       |             i -> list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[i] || ' ' ||
       |                  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[i+1] || ' ' ||
       |                  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[i+2]))
       |      ELSE [text] END AS sh,
       |    (SELECT CASE WHEN len(hs) = 0 THEN 0 ELSE
       |       CAST(list_sum(list_transform(range(0, 60), b ->
       |         CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) >= len(hs)
       |              THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) END
       |     FROM (SELECT list_transform(
       |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |         tk -> ${sqlH64("tk")}) AS hs)) AS sim
       |  FROM (SELECT doc_id, text FROM documents
       |        ORDER BY ${sqlH64("CAST(doc_id AS VARCHAR)")}, doc_id
       |        LIMIT 1000) sample),
       |p0 AS (
       |  SELECT bit_count(xor(a.sim, b.sim)) AS ham,
       |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
       |    len(a.sh) + len(b.sh) AS total
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
       |p AS (
       |  SELECT CAST(ham // 8 AS INTEGER) AS bucket,
       |    CAST(inter AS DOUBLE) / (total - inter) AS jaccard
       |  FROM p0 WHERE total - inter > 0)
       |SELECT bucket, COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       |  ${graft.util.Det.sqlDsum("jaccard")} / COUNT(*) AS mean_jaccard
       |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    import graft.util.Det.dsum
    graft.functions.SketchFunctions.registerAll(s)
    val simE = s"simhash64(transform($toksE, t -> ${h64E("t")}))"
    // ABSOLUTE sample cap (round-6): calibration quality depends on the
    // pair count, not the corpus fraction, so the all-pairs stage must
    // be bounded by a constant — a %-of-corpus sample made this the one
    // quadratic stage in the engine (10x data → 100x pairs). The hash
    // order is a deterministic cross-engine reservoir: top-1000 docs by
    // md5-derived h64(doc_id), replayed identically by the oracle.
    // TakeOrderedAndProject keeps the top-K selection distributed.
    val sample = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .orderBy(expr(h64E("CAST(doc_id AS STRING)")).asc, col("doc_id").asc)
      .limit(1000)
    val t = sample
      .select(col("doc_id"), expr(shE).as("sh"), expr(simE).as("sim"))
    val p = t.select(col("doc_id").as("a"), col("sh").as("sh_a"), col("sim").as("sim_a"))
      .join(t.select(col("doc_id").as("b"), col("sh").as("sh_b"), col("sim").as("sim_b")),
        col("a") < col("b"))
      .withColumn("ham", expr("bit_count(sim_a ^ sim_b)"))
      .withColumn("inter", expr("sorted_intersect_size(sh_a, sh_b)"))
      .withColumn("total", size(col("sh_a")) + size(col("sh_b")))
      .where(col("total") - col("inter") > 0)
      .select(expr("CAST(ham div 8 AS INT)").as("bucket"),
        (col("inter").cast("double") / (col("total") - col("inter"))).as("jaccard"))
    p.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_dups"),
        (dsum(col("jaccard")) / count(lit(1))).as("mean_jaccard"))
      .orderBy(col("bucket"))
  }

  /** Canonical selection per near-dup CLUSTER — the decision dedup
    * actually exists to make: within each connected component of the
    * verified near-dup graph (d06's machinery), KEEP exactly one
    * canonical member — the longest document (token count), ties to
    * the smallest doc_id — and drop the rest. Keep-longest is the
    * standard crawl heuristic (truncated/paywalled variants lose to
    * the full text). Singletons keep themselves.
    *
    * Scale shape: d06's O(diameter) min-label propagation + one doc-key
    * score join + one component-key argmax — the argmax is a struct-MIN
    * aggregate ((-n_tok, doc_id) lexicographic), map-side combined,
    * O(1) state per component, then the k-row winner table joins back
    * on the component key. No window over members, no pair work beyond
    * the dedup graph the pipeline already built. */
  private val d15 = QDef(
    "d15_canonical_keep",
    "WITH RECURSIVE " + oracleShingleCte + ",\n" +
      """e AS (SELECT a AS src, b AS dst FROM vp
        |       UNION SELECT b AS src, a AS dst FROM vp),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |ac AS (
        |  SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
        |sc AS (SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |pick AS (
        |  SELECT ac.component, MIN({'neg_tok': -sc.n_tok, 'doc_id': ac.doc_id}) AS best
        |  FROM ac JOIN sc ON sc.doc_id = ac.doc_id GROUP BY ac.component)
        |SELECT ac.doc_id, ac.component, sc.n_tok,
        |  (ac.doc_id = struct_extract(pick.best, 'doc_id')) AS keep
        |FROM ac JOIN sc USING (doc_id) JOIN pick ON pick.component = ac.component
        |ORDER BY ac.doc_id""".stripMargin) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
    val labels = graft.operators.Components.minLabel(
      edges, edges.select(col("src").as("v")))
    val sc = Tables.documents(s, d)
      .select(col("doc_id"), size(expr(toksE)).cast("long").as("n_tok"))
    val ac = sc.select(col("doc_id"))
      .join(labels.select(col("v").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
    val pick = ac.join(sc, Seq("doc_id"))
      .groupBy(col("component"))
      .agg(min(struct((-col("n_tok")).as("neg_tok"), col("doc_id").as("doc_id")))
        .as("best"))
    ac.join(sc, Seq("doc_id")).join(pick, Seq("component"))
      .select(col("doc_id"), col("component"), col("n_tok"),
        (col("doc_id") === col("best.doc_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter dedup PRE-FILTER with a false-positive audit — the
    * mergeable-sketch membership test a production pipeline puts in
    * front of exact chunk dedup (d09/t15) on each incremental ingest:
    * the base corpus's 8-token-chunk digests populate an m=16384-bit /
    * k=4 Bloom filter, and every NEW-shard chunk is classified
    * maybe-dup (all 4 bits set) before any exact comparison. Per new
    * doc: chunk count, Bloom hits, true base-chunk hits, and the
    * false-positive count — at this fixture's fill (~0.5 per bit) the
    * measured FP rate sits right on the (1-e^{-kn/m})^k curve, which is
    * the calibration a pipeline reads before sizing m for a dump.
    *
    * Scale shape: the filter is built by ONE bit_or aggregate over
    * (word, mask) pairs — 256 words regardless of corpus size at this
    * m, map-side combined, broadcast to probes. At 100 TB m grows to
    * GB-scale and the SAME plan holds without the broadcast: the filter
    * stays a word-keyed distributed table and probes join on the word
    * key (4 narrow rows per chunk), never shuffling text. Bits derive
    * from md5 ([[CrossHash.h64E]]) so DuckDB rebuilds the identical
    * filter; the oracle's words are UBIGINT only because DuckDB checks
    * signed-shift overflow at bit 63 — the hit/miss booleans are
    * engine-identical either way. */
  private val d14 = QDef(
    "d14_bloom_prefilter",
    """WITH tk AS (
      |  SELECT doc_id, source IN ('src18','src19') AS is_new,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
      |  FROM documents),
      |sg AS (
      |  SELECT doc_id, is_new,
      |    md5(array_to_string(tk[CAST(i.i AS INTEGER) * 8 + 1 : CAST(i.i AS INTEGER) * 8 + 8], ' ')) AS dg
      |  FROM tk, unnest(range(0, CAST(ceil(len(tk) / 8.0) AS INTEGER))) AS i(i)),
      |h AS (SELECT doc_id, is_new, dg,
      |        CAST(('0x' || substring(md5(dg || '#' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT) % 16384 AS pos
      |      FROM sg, unnest(range(0, 4)) AS i(i)),
      |bloom AS (SELECT pos // 64 AS word,
      |            bit_or(CAST(1 AS UBIGINT) << CAST(pos % 64 AS INTEGER)) AS bits
      |          FROM h WHERE NOT is_new GROUP BY 1),
      |hits AS (
      |  SELECT h.doc_id, h.dg,
      |    CAST(SUM(CASE WHEN bloom.bits IS NOT NULL
      |      AND (bloom.bits & (CAST(1 AS UBIGINT) << CAST(h.pos % 64 AS INTEGER))) <> 0
      |      THEN 1 ELSE 0 END) AS BIGINT) = 4 AS maybe
      |  FROM h LEFT JOIN bloom ON bloom.word = h.pos // 64
      |  WHERE h.is_new GROUP BY h.doc_id, h.dg),
      |base_dg AS (SELECT DISTINCT dg FROM sg WHERE NOT is_new),
      |cl AS (
      |  SELECT hits.doc_id, COUNT(*) AS n_chunks,
      |    CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
      |    CAST(SUM(CASE WHEN base_dg.dg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
      |  FROM hits LEFT JOIN base_dg ON base_dg.dg = hits.dg
      |  GROUP BY hits.doc_id)
      |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks, n_maybe, n_exact,
      |  n_maybe - n_exact AS n_fp
      |FROM cl ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tk = Tables.documents(s, d).select(col("doc_id"),
      col("source").isin("src18", "src19").as("is_new"), expr(toksE).as("tk"))
    val sg = tk.select(col("doc_id"), col("is_new"), explode(expr(
      """CASE WHEN size(tk) = 0 THEN CAST(array() AS ARRAY<STRING>)
        |ELSE transform(sequence(0, CAST(ceil(size(tk) / 8.0D) AS INT) - 1),
        |       i -> md5(array_join(slice(tk, i * 8 + 1, 8), ' ')))
        |END""".stripMargin)).as("dg"))
    val h = sg.select(col("doc_id"), col("is_new"), col("dg"),
        explode(sequence(lit(0), lit(3))).as("i"))
      .withColumn("pos",
        expr(s"${h64E("concat(dg, '#', cast(i as string))")} % 16384"))
      .withColumn("word", expr("pos div 64"))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"))
    val bloom = h.where(!col("is_new")).groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
    val hits = h.where(col("is_new"))
      .join(broadcast(bloom), Seq("word"), "left")
      .groupBy(col("doc_id"), col("dg"))
      .agg((sum(when(col("bits").isNotNull &&
        (col("bits").bitwiseAND(col("mask")) =!= 0), 1L).otherwise(0L)) === 4L)
        .as("maybe"))
    val baseDg = sg.where(!col("is_new")).select(col("dg")).distinct()
      .withColumn("inbase", lit(true))
    hits.join(baseDg, Seq("dg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"),
        sum(when(col("inbase"), 1L).otherwise(0L)).as("n_exact"))
      .select(col("doc_id"), col("n_chunks"), col("n_maybe"), col("n_exact"),
        (col("n_maybe") - col("n_exact")).as("n_fp"))
      .orderBy(col("doc_id"))
  }

  /** Dedup impact report — the cluster-size histogram a dedup run
    * publishes before anyone deletes anything: per near-dup cluster
    * size (1 = unique), how many clusters, documents, removed
    * documents (everything but the canonical min-id keeper, d06's
    * rule) and removed tokens. THE summary a data lead reads to decide
    * whether the sketch thresholds (audited by d13) are eating real
    * data; totals are corpus-complete because singletons are included.
    *
    * Scale shape: d01/d06's verified-pair + min-label machinery
    * unchanged, then one doc-keyed left join of per-doc token counts
    * against the component labels (shuffle, not broadcast — under
    * heavy duplication the labels cover most of the corpus) and two
    * narrow-key aggregates — the report adds nothing quadratic on top
    * of the dedup it audits.
    * Oracle is the d06 reachability CTE extended with the same
    * histogram (quadratic in DuckDB, like the rest of the d01 family —
    * sf0.1 diff skips it for the ORACLE's sake, not ours). */
  private val d16 = QDef(
    "d16_dedup_impact",
    "WITH RECURSIVE " + oracleShingleCte + ",\n" +
      """e AS (SELECT a AS src, b AS dst FROM vp
        |       UNION SELECT b AS src, a AS dst FROM vp),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |tok AS (SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |allc AS (SELECT tok.doc_id, coalesce(comp.component, tok.doc_id) AS component,
        |    tok.n_tokens
        |  FROM tok LEFT JOIN comp ON tok.doc_id = comp.doc_id),
        |cl AS (SELECT component, count(*) AS csize, sum(n_tokens) AS toks,
        |    sum(CASE WHEN doc_id <> component THEN n_tokens ELSE 0 END) AS toks_rm
        |  FROM allc GROUP BY component)
        |SELECT CAST(csize AS BIGINT) AS cluster_size,
        |  count(*) AS n_clusters,
        |  CAST(csize * count(*) AS BIGINT) AS n_docs,
        |  CAST((csize - 1) * count(*) AS BIGINT) AS n_removed,
        |  CAST(sum(toks) AS BIGINT) AS tokens_total,
        |  CAST(sum(toks_rm) AS BIGINT) AS tokens_removed
        |FROM cl GROUP BY csize ORDER BY csize""".stripMargin) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
    val labels = graft.operators.Components.minLabel(
      edges, edges.select(col("src").as("v")))
    pairs.unpersist()
    val tok = Tables.documents(s, d).select(col("doc_id"),
      expr("size(filter(split(text, '\\\\s+'), x -> x != ''))")
        .cast("long").as("n_tokens"))
    // labels cover every doc in a dup pair — a large fraction under
    // heavy duplication, so join by key, don't broadcast
    val allc = tok
      .join(labels.select(col("v").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"), col("n_tokens"))
    val cl = allc.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"), sum(col("n_tokens")).as("toks"),
        sum(when(col("doc_id") =!= col("component"), col("n_tokens"))
          .otherwise(0L)).as("toks_rm"))
    cl.groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("toks")).as("tokens_total"),
        sum(col("toks_rm")).as("tokens_removed"))
      .select(col("csize").as("cluster_size"),
        col("n_clusters"),
        (col("csize") * col("n_clusters")).as("n_docs"),
        ((col("csize") - lit(1L)) * col("n_clusters")).as("n_removed"),
        col("tokens_total"), col("tokens_removed"))
      .orderBy(col("cluster_size"))
  }

  /** Cross-source duplication matrix — which ingest sources copy from
    * each other: verified near-dup pairs (d01's candidate+verify stage)
    * labeled with each member's source, grouped by the unordered source
    * pair. n_pairs counts dup links; n_docs counts the distinct
    * documents entangled in that source pair (a doc duplicated across 3
    * sources appears under each pairing). The triage view that turns
    * "the corpus has dups" into "src7 re-crawls src5".
    *
    * Scale shape: two doc-keyed joins of the (tiny relative to corpus)
    * pair set against the (doc_id, source) projection — key shuffles
    * only, no broadcast assumption on the doc side — then two narrow
    * aggregates on (src_a, src_b). Nothing quadratic beyond the d01
    * machinery it reuses; the DuckDB ORACLE (all-pairs vp CTE) is the
    * quadratic side, so the sf0.1 diff skips it like the rest of the
    * d01 family. */
  private val d17 = QDef(
    "d17_cross_source_matrix",
    "WITH " + oracleShingleCte + ",\n" +
      """lab AS (
        |  SELECT least(da.source, db.source) AS src_a,
        |    greatest(da.source, db.source) AS src_b, vp.a, vp.b
        |  FROM vp JOIN documents da ON vp.a = da.doc_id
        |          JOIN documents db ON vp.b = db.doc_id),
        |np AS (SELECT src_a, src_b, count(*) AS n_pairs FROM lab GROUP BY 1, 2),
        |nd AS (SELECT src_a, src_b, count(*) AS n_docs FROM (
        |    SELECT DISTINCT src_a, src_b, unnest([a, b]) AS doc FROM lab)
        |  GROUP BY 1, 2)
        |SELECT np.src_a, np.src_b, np.n_pairs, nd.n_docs
        |FROM np JOIN nd USING (src_a, src_b) ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // localCheckpoint, not persist (r13): see d06's pair checkpoint —
    // flattens the LSH lineage for the two downstream aggregates
    val lab = lshVerifiedPairs(s, d)
      .select(col("a"), col("b"))
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("a"), col("b"))
      .checkpointTracked()
    val np = lab.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val nd = lab
      .select(col("src_a"), col("src_b"),
        explode(array(col("a"), col("b"))).as("doc"))
      .distinct()
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_docs"))
    np.join(nd, Seq("src_a", "src_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Near-dup cluster-size histogram — the "how is duplication
    * distributed" report behind d16's aggregate impact numbers: sizes
    * of d06's connected components bucketed into (csize, n_clusters,
    * n_docs), with unpaired documents counted as size-1 clusters. A
    * heavy tail here (a few mega-clusters holding most dup mass) is
    * the signal to switch d15's canonical-keep from per-pair to
    * per-cluster processing; all-size-2 means simple pair-drop
    * suffices.
    *
    * Scale shape: d06's label propagation (O(diameter) rounds,
    * bucketed LSH candidates, never all-pairs) + two tiny aggregates;
    * the singleton row comes from broadcast single-row counts, no
    * driver collect. The DuckDB oracle replays components with a
    * recursive CTE over brute-force pairs — quadratic on the ORACLE
    * side only (sf0.1 skip list, like d06). */
  private val d18 = QDef(
    "d18_cluster_size_histogram",
    "WITH RECURSIVE " + oracleShingleCte + ",\n" +
      """e AS (SELECT a AS src, b AS dst FROM vp
        |       UNION SELECT b AS src, a AS dst FROM vp),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |cs AS (SELECT component, count(*) AS csize FROM comp GROUP BY component),
        |hist AS (
        |  SELECT csize, count(*) AS n_clusters FROM cs GROUP BY csize
        |  UNION ALL
        |  SELECT 1 AS csize,
        |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_clusters)
        |SELECT csize, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
        |  CAST(SUM(csize * n_clusters) AS BIGINT) AS n_docs
        |FROM hist GROUP BY csize ORDER BY csize""".stripMargin) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
    val labels = graft.operators.Components.minLabel(
      edges, edges.select(col("src").as("v"))).persistTracked()
    val hist = labels.groupBy(col("comp")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
    val singleton = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      .crossJoin(labels.agg(count(lit(1)).as("np")))
      .select(lit(1L).as("csize"), (col("nd") - col("np")).as("n_clusters"))
    hist.select(col("csize"), col("n_clusters")).union(singleton)
      .groupBy(col("csize"))
      .agg(sum(col("n_clusters")).as("n_clusters"),
        sum(col("csize") * col("n_clusters")).as("n_docs"))
      .orderBy(col("csize"))
  }

  /** Asymmetric containment dedup (Broder's containment, not
    * resemblance): directed pairs where ≥80% of the source document's
    * shingles appear in the destination — the "quote expansion" /
    * "doc A is embedded in longer doc B" case that symmetric Jaccard
    * misses entirely (a short doc inside a long one has low Jaccard
    * but containment ≈ 1).
    *
    * Scale shape (round-6): candidate generation is a rarest-first
    * POSITIONAL PREFIX FILTER over the inverted index — only each doc's
    * (|A| − ⌊4|A|/5⌋ + 1) globally-rarest shingles are exploded as join
    * keys, which is lossless for the ≥ 0.8 gate and removes the hot
    * boilerplate shingles from the join entirely (the naive full
    * inverted-index self-join was Σ df(g)² — the sf1 smoke measured
    * 118x cost at 10x data; the prefix join is output-bounded). Exact
    * verify runs on fetched shingle sets per candidate. The DuckDB
    * oracle is the brute-force all-pairs intersection — quadratic on
    * the ORACLE side only. */
  private val d19 = QDef(
    "d19_containment_pairs",
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 3
      |      THEN list_distinct(list_transform(
      |             range(1, len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) - 1),
      |             i -> list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i] || ' ' ||
      |                  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i+1] || ' ' ||
      |                  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[i+2]))
      |      ELSE [text] END AS sh
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst,
      |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
      |    len(a.sh) AS n_src, len(b.sh) AS n_dst
      |  FROM t a JOIN t b ON a.doc_id <> b.doc_id)
      |SELECT src, dst, CAST(inter AS BIGINT) AS inter,
      |  CAST(n_src AS BIGINT) AS n_src, CAST(n_dst AS BIGINT) AS n_dst,
      |  CAST(inter AS DOUBLE) / CAST(n_src AS DOUBLE) AS containment
      |FROM p WHERE CAST(inter AS DOUBLE) / CAST(n_src AS DOUBLE) >= 0.8
      |ORDER BY src, dst""".stripMargin) { (s, d) =>
    graft.functions.SketchFunctions.registerAll(s)
    val w = org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d).select(col("doc_id"), expr(shE).as("sh"))
      .persistTracked()
    val ex = t.select(col("doc_id"), explode(col("sh")).as("g"))
    // Rarest-first POSITIONAL PREFIX FILTER (Chaudhuri et al. 2006,
    // Bayardo et al. WWW'07), round-6 rewrite: the naive inverted-index
    // self-join pairs every co-occurrence of every shingle — Σ_g df(g)²
    // work, quadratic in the hot boilerplate shingles (the sf1 smoke
    // measured 118x at 10x data). Containment(src→dst) ≥ 0.8 needs
    // |A∩B| ≥ ⌊4|A|/5⌋ =: τ, so among the (|A| − τ + 1) FIRST shingles
    // of A in the global (doc-frequency asc, shingle) order, at least
    // one is in B — candidates come only from PREFIX entries, whose
    // keys are the RAREST shingles of each doc by construction. Hot
    // shingles never generate candidates; the exact verify then runs
    // only on the candidate pairs. Output is identical (the filter is
    // lossless for the ≥ 0.8 gate).
    val dfreq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfreq, Seq("g"))
      .withColumn("rk", row_number().over(
        w.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
      .withColumn("n", count(lit(1)).over(w.partitionBy(col("doc_id"))))
    val prefix = ranked
      .where(col("rk") <= expr("n - (4 * n) div 5 + 1"))
      .select(col("doc_id").as("src"), col("g"))
    // opt-in fail-fast: even the prefix-filtered index degenerates when
    // every document shares every gram (all-identical corpus) — the
    // budget aborts loudly before the candidate join launches
    graft.operators.PairBudget.guardEquiJoin(
      prefix, ex.select(col("doc_id").as("dst"), col("g")), Seq("g"),
      "d19 containment candidate join (gram inverted index)")
    val cand = prefix
      .join(ex.select(col("doc_id").as("dst"), col("g")), Seq("g"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .dropDuplicates("src", "dst")
    // fetch both shingle sets in ONE pass over t (the d01 trick)
    val fetched = cand
      .select(col("src"), col("dst"),
        explode(array(col("src"), col("dst"))).as("doc_id"))
      .join(t, Seq("doc_id"))
      .groupBy(col("src"), col("dst"))
      .agg(
        first(when(col("doc_id") === col("src"), col("sh")), ignoreNulls = true).as("sh_a"),
        first(when(col("doc_id") === col("dst"), col("sh")), ignoreNulls = true).as("sh_b"))
    fetched
      .withColumn("inter", expr("sorted_intersect_size(sh_a, sh_b)").cast("long"))
      .withColumn("n_src", size(col("sh_a")).cast("long"))
      .withColumn("n_dst", size(col("sh_b")).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / col("n_src").cast("double"))
      .filter(col("containment") >= 0.8)
      .select(col("src"), col("dst"), col("inter"), col("n_src"),
        col("n_dst"), col("containment"))
      .orderBy(col("src"), col("dst"))
  }

  /** Lexical-vs-semantic dedup agreement matrix: do the MinHash/Jaccard
    * pairs (d01's exact-verified ≥0.5 set) and the embedding near-dup
    * pairs (v04's IVF-list-blocked cosine >0.3 set, doc_id ≡ vec_id)
    * find the same duplicates? The confusion counts (both /
    * lexical_only / semantic_only) are the calibration a pipeline reads
    * before deciding which dedup pass to run first — and whether one
    * can be dropped.
    *
    * Scale shape: both pair sets are already bucket-blocked (LSH bands;
    * IVF lists) and therefore bounded; the agreement join is a key join
    * of two small pair tables. Nothing here is ever corpus×corpus. */
  private val d20 = {
    def eCos(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    QDef(
      "d20_dedup_agreement",
      // the shingle CTEs (t, p, vp) compose with VectorOps' shared IVF
      // quantizer CTEs (e, c, asgr, assign) — ONE quantizer definition,
      // so this stays v04's pair set by construction
      "WITH " + oracleShingleCte + ",\n" +
        VectorOps.sqlIvfCtes.stripPrefix("WITH ") + s""",
        |sem AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
        |  WHERE ${eCos("a.embedding", "b.embedding")} /
        |          (sqrt(${eCos("a.embedding", "a.embedding")}) * sqrt(${eCos("b.embedding", "b.embedding")})) > 0.3),
        |m AS (
        |  SELECT CASE WHEN vp.a IS NOT NULL AND sem.a IS NOT NULL THEN 'both'
        |              WHEN vp.a IS NOT NULL THEN 'lexical_only'
        |              ELSE 'semantic_only' END AS category
        |  FROM vp FULL JOIN sem ON vp.a = sem.a AND vp.b = sem.b)
        |SELECT category, COUNT(*) AS n_pairs FROM m
        |GROUP BY category ORDER BY category""".stripMargin) { (s, d) =>
      graft.functions.SketchFunctions.registerAll(s)
      def dotE(a: String, b: String) = expr(s"dot_fold($a, $b)")
      def cosE(a: String, b: String) =
        dotE(a, b) / (sqrt(dotE(a, a)) * sqrt(dotE(b, b)))
      val assign = VectorOps.ivfAssign(VectorOps.embeddings(s, d))
        .repartition(col("list_id"))
      val sem = assign
        .select(col("list_id"), col("vec_id").as("a"), col("emb").as("emb_a"))
        .hint("shuffle_hash")
        .join(assign.select(col("list_id"), col("vec_id").as("b"),
          col("emb").as("emb_b")), Seq("list_id"))
        .where(col("a") < col("b"))
        .filter(cosE("emb_a", "emb_b") > 0.3)
        .select(col("a"), col("b"), lit(1).as("sm"))
      val lex = lshVerifiedPairs(s, d)
        .select(col("a"), col("b"), lit(1).as("lx"))
      lex.join(sem, Seq("a", "b"), "full_outer")
        .withColumn("category",
          when(col("lx").isNotNull && col("sm").isNotNull, "both")
            .when(col("lx").isNotNull, "lexical_only")
            .otherwise("semantic_only"))
        .groupBy(col("category")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("category"))
    }
  }

  /** End-to-end corpus-build attrition funnel — the whole cleaning
    * pipeline composed into one report: ingested → charset gate
    * (t44's rule) → Gopher quality gate (t07's rule) → corpus-global
    * exact dedup (keep-min-doc_id per md5 digest) → near-dup collapse
    * (the d01 LSH-verified ≥0.5-Jaccard pairs among SURVIVORS, d06's
    * min-label components, d15's keep-longest canonical rule). Each
    * stage filters the previous stage's survivors, and the report is
    * the (stage, docs, tokens) funnel a data lead signs off on before
    * a training run — the number every pipeline paper quotes.
    *
    * Scale shape: the gates are per-row expression work; exact dedup
    * shuffles constant-width digests; the near-dup stage inherits
    * d01/d06/d15's posture (band-key shuffles, O(diameter) label
    * rounds, component-key argmax) but runs on the FILTERED corpus —
    * composing the stages in this order is itself the scale lesson
    * (cheap gates shrink the expensive sketch stage's input). The
    * DuckDB oracle replays all five stages, with the usual brute-force
    * all-pairs stand-in for the candidate stage (quadratic on the
    * ORACLE side only → sf0.1 skip list). */
  private val d21 = QDef(
    "d21_corpus_funnel",
    "WITH RECURSIVE base AS (\n" +
      """  SELECT doc_id, text,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
        |    length(text) AS n_chars,
        |    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_up,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig,
        |    length(regexp_replace(text, '[\x01-\x7f]', '', 'g')) AS n_na,
        |    length(replace(text, ' ', '')) AS n_nonspace,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> regexp_matches(x, '[#%$@]'))) AS n_symbol,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> regexp_matches(x, '\p{L}'))) AS n_alpha,
        |    len(list_filter(regexp_split_to_array(text, '\n'), l -> l LIKE '...%')) AS n_ellipsis,
        |    len(regexp_split_to_array(text, '\n')) AS n_lines
        |  FROM documents),
        |c2 AS (
        |  SELECT * FROM base
        |  WHERE CAST(n_na AS DOUBLE) / NULLIF(n_chars, 0) <= 0.1
        |    AND CAST(n_dig AS DOUBLE) / NULLIF(n_chars, 0) <= 0.3
        |    AND CAST(n_up AS DOUBLE) / NULLIF(n_chars, 0) <= 0.3),
        |c3 AS (
        |  SELECT * FROM c2
        |  WHERE (n_tok >= 30 AND n_tok <= 50000)
        |    AND (n_tok > 0 AND CAST(n_nonspace AS DOUBLE) / n_tok >= 2.0
        |                   AND CAST(n_nonspace AS DOUBLE) / n_tok <= 12.0)
        |    AND (n_tok > 0 AND CAST(n_symbol AS DOUBLE) / n_tok < 0.5)
        |    AND (n_lines = 0 OR CAST(n_ellipsis AS DOUBLE) / n_lines <= 0.3)
        |    AND (n_tok > 0 AND CAST(n_alpha AS DOUBLE) / n_tok >= 0.6)),
        |c4 AS (
        |  SELECT * FROM c3
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM c3 GROUP BY md5(text))),
        |""".stripMargin +
      oracleShingleCte.replace("FROM documents", "FROM c4") + ",\n" +
      """e AS (SELECT a AS src, b AS dst FROM vp
        |       UNION SELECT b AS src, a AS dst FROM vp),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |ac AS (
        |  SELECT c4.doc_id, coalesce(comp.component, c4.doc_id) AS component
        |  FROM c4 LEFT JOIN comp ON comp.doc_id = c4.doc_id),
        |pick AS (
        |  SELECT ac.component, MIN({'neg_tok': -c4.n_tok, 'doc_id': ac.doc_id}) AS best
        |  FROM ac JOIN c4 ON c4.doc_id = ac.doc_id GROUP BY ac.component),
        |c5 AS (
        |  SELECT c4.* FROM c4 JOIN ac ON ac.doc_id = c4.doc_id
        |  JOIN pick ON pick.component = ac.component
        |  WHERE c4.doc_id = struct_extract(pick.best, 'doc_id'))
        |SELECT * FROM (
        |  SELECT 1 AS stage_idx, 'ingested' AS stage, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM base
        |  UNION ALL SELECT 2, 'charset', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM c2
        |  UNION ALL SELECT 3, 'quality', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM c3
        |  UNION ALL SELECT 4, 'exact_dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM c4
        |  UNION ALL SELECT 5, 'near_dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM c5
        |) ORDER BY stage_idx""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.Column
    // ONE regex-battery pass over the corpus: the five funnel counters
    // all consume this compact persisted stats frame (doc_id, n_tok,
    // per-stage gate verdicts) — without it, each stage aggregate and
    // each downstream join re-derived the scan and re-ran every regex
    // (observed ~5 full passes; this was the bench's slowest query)
    def cnt(p: String) = length(regexp_replace(col("text"), p, "")).cast("long")
    val nChars = nullif(length(col("text")), lit(0))
    def ratio(c: Column) = c.cast("double") / nChars
    // stage-2 charset gate (t44's keep rule) + stage-3 Gopher gate
    // (t07's keep rule) as verdict columns; filter(col) keeps TRUE rows
    // only, so null verdicts drop exactly like the original filters
    val meanLen =
      length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tok")
    val nSym = size(filter(expr(toksE), t => t.rlike("[#%$@]")))
    val nAlpha = size(filter(expr(toksE), t => t.rlike("\\p{L}")))
    val nEll = size(filter(split(col("text"), "\n"), l => l.startsWith("...")))
    val nLines = size(split(col("text"), "\n"))
    // text rides in the cached frame so the digest/shingle stages read
    // it back without a second parquet scan or an id-rejoin shuffle
    // (the cache spills to disk if a bigger corpus outgrows memory)
    val stats = Tables.documents(s, d).select(col("doc_id"), col("text"),
      size(expr(toksE)).cast("long").as("n_tok"))
      .select(col("doc_id"), col("text"), col("n_tok"),
        (ratio(cnt("[\\x01-\\x7f]")) <= 0.1 &&
          ratio(cnt("[^0-9]")) <= 0.3 && ratio(cnt("[^A-Z]")) <= 0.3).as("p2"),
        ((col("n_tok") >= 30 && col("n_tok") <= 50000) &&
          (col("n_tok") > 0 && meanLen >= 2.0 && meanLen <= 12.0) &&
          (col("n_tok") > 0 && nSym.cast("double") / col("n_tok") < 0.5) &&
          (nLines === 0 || nEll.cast("double") / nLines <= 0.3) &&
          (col("n_tok") > 0 && nAlpha.cast("double") / col("n_tok") >= 0.6)).as("p3"))
      .persistTracked()
    val c3 = stats.filter(col("p2") && col("p3"))
      .select(col("doc_id"), col("text"), col("n_tok"))
    // stage 4: exact dedup — keep min doc_id per text digest
    val keepers = c3.groupBy(md5(col("text")).as("dg"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val c4 = c3.join(keepers, Seq("doc_id"), "left_semi").persistTracked()
    // stage 5: near-dup collapse among survivors (d01 pairs → d06
    // components → d15 canonical keep)
    val pairs = lshVerifiedPairsOf(s, c4.select(col("doc_id"), col("text")))
      .select(col("a"), col("b")).checkpointTracked() // flat leaf, see d06
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("src", "dst")
    val labels = graft.operators.Components.minLabel(
      edges, edges.select(col("src").as("v")))
    val ac = c4.select(col("doc_id"))
      .join(labels.select(col("v").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
    val pick = ac.join(c4.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
      .groupBy(col("component"))
      .agg(min(struct((-col("n_tok")).as("neg_tok"), col("doc_id").as("doc_id")))
        .as("best"))
    val c5ids = ac.join(pick, Seq("component"))
      .filter(col("doc_id") === col("best.doc_id")).select(col("doc_id"))
    // the five funnel counters in TWO aggregate passes instead of five
    // (guide §2.3 "aggregate before you shuffle" — here: aggregate ONCE):
    // stages 1-3 are conditional aggregates over the persisted stats
    // frame (each row's gate verdicts already ride in p2/p3, so
    // count/sum(CASE WHEN ...) over one pass ≡ three filtered passes),
    // and stages 4-5 fuse into one pass over c4 with the near-dup
    // survivor flag attached by a unique-key left join (c5ids is one row
    // per component, so the join cannot duplicate). Conditional
    // aggregates match the filtered originals exactly: COUNT skips
    // nulls, SUM over an empty/all-null branch is NULL either way.
    val g123 = stats.agg(
      count(lit(1)).as("n1"), sum(col("n_tok")).as("t1"),
      count(when(col("p2"), lit(1))).as("n2"),
      sum(when(col("p2"), col("n_tok"))).as("t2"),
      count(when(col("p2") && col("p3"), lit(1))).as("n3"),
      sum(when(col("p2") && col("p3"), col("n_tok"))).as("t3"))
    val g45 = c4.select(col("doc_id"), col("n_tok"))
      .join(c5ids.withColumn("in5", lit(true)), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n4"), sum(col("n_tok")).as("t4"),
        count(when(col("in5"), lit(1))).as("n5"),
        sum(when(col("in5"), col("n_tok"))).as("t5"))
    def row(i: Int, name: String, n: String, t: String) =
      struct(lit(i).as("stage_idx"), lit(name).as("stage"),
        col(n).as("n_docs"), col(t).as("n_tokens"))
    g123.crossJoin(g45)
      .select(explode(array(
        row(1, "ingested", "n1", "t1"), row(2, "charset", "n2", "t2"),
        row(3, "quality", "n3", "t3"), row(4, "exact_dedup", "n4", "t4"),
        row(5, "near_dedup", "n5", "t5"))).as("s"))
      .select(col("s.stage_idx"), col("s.stage"), col("s.n_docs"),
        col("s.n_tokens"))
      .orderBy(col("stage_idx"))
  }

  /** Language-ID evaluation card — d04's classifier scored against the
    * corpus' ground-truth `lang` labels: per language, support and the
    * confusion counts (tp / fp / fn), then precision, recall, and F1 —
    * the model card a pipeline publishes before trusting per-language
    * gates (t27, t36, d04 downstream). The evaluated predictor IS the
    * deployed one: both engines build it from the same shared
    * stopword-profile definition, so the eval can never drift from the
    * classifier. NULLIF keeps zero-support / zero-prediction languages
    * at NULL metrics instead of an ANSI divide error; the F1 chain
    * (2·p·r)/(p+r) is order-pinned in both engines.
    *
    * Scale shape: per-row classification (the d04 expression), then
    * two label-keyed count aggregates joined on the language key —
    * |langs|-bounded output, no windows, nothing pairwise. */
  private val d22 = QDef(
    "d22_langid_eval",
    s"""WITH $sqlLangPredCte,
       |act AS (
       |  SELECT lang, COUNT(*) AS support,
       |    SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS tp
       |  FROM lp GROUP BY lang),
       |prd AS (SELECT pred_lang, COUNT(*) AS n_pred FROM lp GROUP BY pred_lang)
       |SELECT act.lang, CAST(act.support AS BIGINT) AS support,
       |  CAST(act.tp AS BIGINT) AS tp,
       |  CAST(COALESCE(prd.n_pred, 0) - act.tp AS BIGINT) AS fp,
       |  CAST(act.support - act.tp AS BIGINT) AS fn,
       |  CAST(act.tp AS DOUBLE) / NULLIF(COALESCE(prd.n_pred, 0), 0) AS precision,
       |  CAST(act.tp AS DOUBLE) / NULLIF(act.support, 0) AS recall,
       |  2.0 * (CAST(act.tp AS DOUBLE) / NULLIF(COALESCE(prd.n_pred, 0), 0))
       |      * (CAST(act.tp AS DOUBLE) / NULLIF(act.support, 0)) /
       |    NULLIF((CAST(act.tp AS DOUBLE) / NULLIF(COALESCE(prd.n_pred, 0), 0))
       |         + (CAST(act.tp AS DOUBLE) / NULLIF(act.support, 0)), 0.0) AS f1
       |FROM act LEFT JOIN prd ON prd.pred_lang = act.lang
       |ORDER BY act.lang""".stripMargin) { (s, d) =>
    val lp = langPred(s, d).persistTracked()
    val act = lp.groupBy(col("lang"))
      .agg(count(lit(1)).as("support"),
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L)).as("tp"))
    val prd = lp.groupBy(col("pred_lang")).agg(count(lit(1)).as("n_pred"))
    val p = col("tp").cast("double") /
      nullif(coalesce(col("n_pred"), lit(0L)), lit(0L))
    val r = col("tp").cast("double") / nullif(col("support"), lit(0L))
    act.join(prd, col("pred_lang") === col("lang"), "left")
      .select(col("lang"), col("support"), col("tp"),
        (coalesce(col("n_pred"), lit(0L)) - col("tp")).as("fp"),
        (col("support") - col("tp")).as("fn"),
        p.as("precision"), r.as("recall"),
        (lit(2.0) * p * r / nullif(p + r, lit(0.0))).as("f1"))
      .orderBy(col("lang"))
  }

  /** Dedup threshold-sensitivity sweep — the card a data team reads
    * before fixing the near-dup cutoff: for each candidate Jaccard
    * threshold, how many verified pairs survive, how many documents
    * they touch, and how many the keep-smallest-id policy would drop
    * (non-transitive estimate: a doc is dropped when it is the larger
    * side of any surviving pair; the transitive answer is d06+d15\u0027s
    * job). One pass over d01\u0027s verified pairs crossed with the 5-row
    * threshold table — the sweep costs one extra broadcast, not five
    * re-runs of the sketch stage. Quadratic ORACLE only (the brute
    * all-pairs ground truth d01 already carries), so it joins the
    * sf0.1 oracle skip family. */
  private val d23 = QDef(
    "d23_threshold_sweep",
    "WITH " + oracleShingleCte + """,
      |thr AS (SELECT CAST(v.t AS DOUBLE) AS thr
      |        FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) v(t)),
      |k AS (SELECT thr, a, b FROM vp CROSS JOIN thr WHERE jaccard >= thr),
      |m AS (SELECT thr, COUNT(*) AS n_pairs, COUNT(DISTINCT b) AS n_removed
      |      FROM k GROUP BY thr),
      |docs AS (SELECT thr, COUNT(DISTINCT u.dd) AS n_docs
      |         FROM k, unnest([k.a, k.b]) AS u(dd) GROUP BY thr)
      |SELECT thr.thr, COALESCE(m.n_pairs, 0) AS n_pairs,
      |  COALESCE(docs.n_docs, 0) AS n_docs,
      |  COALESCE(m.n_removed, 0) AS n_removed
      |FROM thr LEFT JOIN m ON thr.thr = m.thr
      |LEFT JOIN docs ON thr.thr = docs.thr
      |ORDER BY thr.thr""".stripMargin) { (s, d) =>
    import graft.util.Persist.Syntax
    // persist, NOT an eager checkpoint (r13, measured): d23's output
    // joins are unique-key left joins, so count-only consumers prune
    // them and never run the sketch at all — a lazy persist preserves
    // that optimizer freedom, an eager checkpoint destroys it
    val pairs = lshVerifiedPairs(s, d).persistTracked()
    val thr = broadcast(s.createDataFrame(
      Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(Tuple1(_))).toDF("thr"))
    val k = pairs.crossJoin(thr).where(col("jaccard") >= col("thr"))
      .persistTracked()
    val m = k.groupBy(col("thr"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("b")).as("n_removed"))
    val docs = k.select(col("thr"), explode(array(col("a"), col("b"))).as("dd"))
      .groupBy(col("thr")).agg(countDistinct(col("dd")).as("n_docs"))
    thr.join(m, Seq("thr"), "left").join(docs, Seq("thr"), "left")
      .select(col("thr"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy(col("thr"))
  }

  /** k-core decomposition of the near-dup graph by BOUNDED-ROUND
    * distributed peeling (Matula-Beck shape): each round drops every
    * vertex with degree < k and the edges touching it; 5 rounds are the
    * operator's definition (a fixed stage count — at 100 TB you run a
    * budgeted number of peels, checkpointing between them, exactly like
    * d08's unrolled power iterations). 2-cores separate cyclic dup
    * clusters from tree-like chains; 3-cores isolate the densest
    * template families that component size alone can't distinguish (a
    * star of N docs is one component but has NO 2-core). Every round is
    * a map-side-combined degree aggregate + two key-only semi-joins —
    * integer set algebra, no geometry for sum-order drift. The oracle
    * replays the identical 5 unrolled rounds; its quadratic half is the
    * brute-force vp pair stage (the d-family oracle pattern). */
  private val d24 = QDef(
    "d24_kcore_decomposition", {
      // MATERIALIZED: each round references the previous round's edge
      // and survivor sets twice, so inlined CTEs re-run the all-pairs
      // vp stage exponentially often (see d26)
      def rounds(k: Int): String =
        (1 to 5).map { r =>
          s"""k${k}d$r AS (SELECT src, COUNT(*) AS deg FROM k${k}e${r - 1} GROUP BY src),
             |k${k}v$r AS MATERIALIZED (SELECT src FROM k${k}d$r WHERE deg >= $k),
             |k${k}e$r AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM k${k}e${r - 1} e
             |  JOIN k${k}v$r va ON e.src = va.src
             |  JOIN k${k}v$r vb ON e.dst = vb.src)""".stripMargin
        }.mkString(",\n")
      "WITH " + oracleShingleCte + ",\n" +
        s"""e AS MATERIALIZED (SELECT a AS src, b AS dst FROM vp
           |       UNION SELECT b AS src, a AS dst FROM vp),
           |k2e0 AS MATERIALIZED (SELECT src, dst FROM e),
           |k3e0 AS MATERIALIZED (SELECT src, dst FROM e),
           |${rounds(2)},
           |${rounds(3)},
           |deg0 AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src),
           |deg2 AS (SELECT src, COUNT(*) AS deg FROM k2e5 GROUP BY src)
           |SELECT d0.src AS doc_id, CAST(d0.degree AS BIGINT) AS degree,
           |  (v2.src IS NOT NULL) AS in_2core,
           |  (v3.src IS NOT NULL) AS in_3core,
           |  CAST(COALESCE(deg2.deg, 0) AS BIGINT) AS core2_degree
           |FROM deg0 d0
           |LEFT JOIN k2v5 v2 ON d0.src = v2.src
           |LEFT JOIN k3v5 v3 ON d0.src = v3.src
           |LEFT JOIN deg2 ON d0.src = deg2.src
           |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val edges = pairs.union(pairs.select(col("b"), col("a")))
      .toDF("src", "dst").persistTracked()
    // 5 peel rounds via the shared checkpointed-loop helper: persist
    // alone does NOT truncate the logical plan, so the previous inline
    // version's round n+1 embedded ~3 copies of round n's plan and
    // Catalyst analysis went exponential (983 s at sf0.1, all driver
    // time). Components.kCorePeel localCheckpoints each round's
    // survivor + edge sets, keeping the per-round plan constant-size.
    val (v2, e2) = graft.operators.Components.kCorePeel(edges, 2, 5)
    val (v3, _) = graft.operators.Components.kCorePeel(edges, 3, 5)
    val deg0 = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    val deg2 = e2.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    deg0
      .join(v2.withColumn("in2", lit(true)), Seq("src"), "left")
      .join(v3.withColumn("in3", lit(true)).select(col("src"), col("in3")),
        Seq("src"), "left")
      .join(deg2, Seq("src"), "left")
      .select(col("src").as("doc_id"), col("degree").cast("long").as("degree"),
        coalesce(col("in2"), lit(false)).as("in_2core"),
        coalesce(col("in3"), lit(false)).as("in_3core"),
        coalesce(col("deg"), lit(0L)).cast("long").as("core2_degree"))
      .orderBy(col("doc_id"))
  }

  /** 3-truss of the near-dup graph by BOUNDED-ROUND support peeling
    * (Cohen 2008 truss decomposition, the budgeted-stage shape of d24):
    * each round computes per-edge triangle support with two vertex-key
    * equi-joins and drops edges in no triangle. Trusses separate
    * template families that k-cores can't: a long duplication CHAIN is
    * a 2-core-free tree and a duplication CYCLE is a 2-core, but only
    * clusters where documents pairwise-triangulate (the true
    * boilerplate families worth one canonical keep) survive the
    * 3-truss. Rounds ride Components.kTrussPeel — localCheckpoint per
    * round, constant plan size, wedge joins keyed on vertex ids only.
    * The oracle replays the identical 3 unrolled rounds. */
  private val d25 = QDef(
    "d25_ktruss_edges", {
      // MATERIALIZED: the round chain re-references u_{r-1} ~4x; see d26
      def round(r: Int): String =
        s"""s${r - 1} AS MATERIALIZED (
           |  SELECT lo AS s, hi AS d FROM u${r - 1}
           |  UNION ALL SELECT hi AS s, lo AS d FROM u${r - 1}),
           |p$r AS MATERIALIZED (
           |  SELECT e.lo, e.hi, COUNT(*) AS sup
           |  FROM u${r - 1} e
           |  JOIN s${r - 1} x ON x.s = e.lo
           |  JOIN s${r - 1} y ON y.s = e.hi AND y.d = x.d
           |  GROUP BY e.lo, e.hi),
           |u$r AS MATERIALIZED (
           |  SELECT e.lo, e.hi FROM u${r - 1} e
           |  JOIN p$r ON p$r.lo = e.lo AND p$r.hi = e.hi AND p$r.sup >= 1)""".stripMargin
      "WITH " + oracleShingleCte + ",\n" +
        s"""u0 AS MATERIALIZED (SELECT a AS lo, b AS hi FROM vp),
           |${(1 to 3).map(round).mkString(",\n")},
           |deg0 AS (
           |  SELECT v, COUNT(*) AS degree FROM (
           |    SELECT lo AS v FROM u0 UNION ALL SELECT hi AS v FROM u0) q
           |  GROUP BY v),
           |td AS (
           |  SELECT v, COUNT(*) AS tdeg FROM (
           |    SELECT lo AS v FROM u3 UNION ALL SELECT hi AS v FROM u3) q
           |  GROUP BY v)
           |SELECT deg0.v AS doc_id, CAST(deg0.degree AS BIGINT) AS degree,
           |  (td.v IS NOT NULL) AS in_3truss,
           |  CAST(COALESCE(td.tdeg, 0) AS BIGINT) AS truss_degree
           |FROM deg0 LEFT JOIN td ON deg0.v = td.v
           |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val edges = pairs.union(pairs.select(col("b"), col("a")))
      .toDF("src", "dst").persistTracked()
    val u3 = graft.operators.Components.kTrussPeel(edges, 3, 3)
    val deg0 = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    val td = u3.select(col("lo").as("v")).union(u3.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("tdeg"))
    deg0.join(td, deg0("src") === td("v"), "left")
      .select(col("src").as("doc_id"), col("degree").cast("long").as("degree"),
        col("v").isNotNull.as("in_3truss"),
        coalesce(col("tdeg"), lit(0L)).cast("long").as("truss_degree"))
      .orderBy(col("doc_id"))
  }

  /** Densest subgraph of the near-dup graph by the Bahmani–Kumar–
    * Vassilvitskii (2012) bounded-round greedy peel (ε = 0.5, 6
    * rounds): each round removes every vertex with degree ≤ 3ρ (the
    * keep test `deg·|V| > 3·|E|` is exact integer arithmetic, so the
    * DuckDB replay is bit-identical), and the best-density round is a
    * 1/3-approximation of the densest subgraph — the single most
    * concentrated boilerplate family, the thing a dedup capacity plan
    * sizes its hottest bucket by. Per round only TWO scalar counts
    * reach the driver; edges stay distributed and checkpointed. */
  private val d26 = QDef(
    "d26_densest_subgraph", {
      // MATERIALIZED: each round references the previous ~5x; inlined
      // CTEs would expand the chain exponentially (the DuckDB analogue
      // of d24's Catalyst lineage blowup)
      def round(r: Int): String =
        s"""deg$r AS MATERIALIZED (
           |  SELECT v, COUNT(*) AS deg FROM (
           |    SELECT lo AS v FROM g${r - 1} UNION ALL SELECT hi AS v FROM g${r - 1}) q
           |  GROUP BY v),
           |k$r AS MATERIALIZED (
           |  SELECT v FROM deg$r
           |  WHERE deg * (SELECT COUNT(DISTINCT v) FROM deg$r)
           |      > 3 * (SELECT COUNT(*) FROM g${r - 1})),
           |g$r AS MATERIALIZED (
           |  SELECT g.lo, g.hi FROM g${r - 1} g
           |  JOIN k$r a ON g.lo = a.v JOIN k$r b ON g.hi = b.v)""".stripMargin
      def statRow(r: Int): String =
        s"""SELECT $r AS round,
           |  (SELECT COUNT(DISTINCT v) FROM (
           |     SELECT lo AS v FROM g$r UNION ALL SELECT hi AS v FROM g$r) q) AS n_vertices,
           |  (SELECT COUNT(*) FROM g$r) AS n_edges""".stripMargin
      "WITH " + oracleShingleCte + ",\n" +
        s"""g0 AS MATERIALIZED (SELECT a AS lo, b AS hi FROM vp),
           |${(1 to 6).map(round).mkString(",\n")},
           |stats AS (${(0 to 6).map(statRow).mkString("\nUNION ALL\n")}),
           |stats2 AS (
           |  SELECT round, n_vertices, n_edges,
           |    CASE WHEN n_vertices = 0 THEN 0.0
           |         ELSE CAST(n_edges AS DOUBLE) / n_vertices END AS density
           |  FROM stats)
           |SELECT CAST(round AS INTEGER) AS round,
           |  CAST(n_vertices AS BIGINT) AS n_vertices,
           |  CAST(n_edges AS BIGINT) AS n_edges, density,
           |  (round = (SELECT MIN(round) FROM stats2
           |            WHERE density = (SELECT MAX(density) FROM stats2))) AS is_best
           |FROM stats2 ORDER BY round""".stripMargin
    }) { (s, d) =>
    // localCheckpoint, not persist (r13): every downstream consumer of
    // the pair set re-analyzed the whole LSH pipeline tree per Dataset
    // op under a lineage-intact persist; the eager checkpoint runs the
    // pipeline once and flattens it to a leaf
    val pairs = lshVerifiedPairs(s, d).select(col("a"), col("b"))
      .checkpointTracked()
    val u = pairs.select(least(col("a"), col("b")).as("lo"),
      greatest(col("a"), col("b")).as("hi")).distinct()
    val stats = graft.operators.Components.densestPeel(u, 6)
    val withD = stats.map { case (r, nv, ne) =>
      (r, nv, ne, if (nv == 0) 0.0 else ne.toDouble / nv)
    }
    val maxD = withD.map(_._4).max
    val bestRound = withD.filter(_._4 == maxD).map(_._1).min
    import s.implicits._
    withD.map { case (r, nv, ne, dd) => (r, nv, ne, dd, r == bestRound) }
      .toDF("round", "n_vertices", "n_edges", "density", "is_best")
      .orderBy(col("round"))
  }
}
