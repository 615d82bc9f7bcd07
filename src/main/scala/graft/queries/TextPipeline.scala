package graft.queries

import graft.{Q, Tables}
import graft.graph.Superstep
import graft.ops.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text pipeline (builder-prompt extension surface): text
  * analysis (stats, language-ID, token counting, fingerprinting) and the
  * dedup family (exact, n-gram Jaccard, MinHash+LSH, SimHash) over the
  * `documents` table.
  *
  * Scale stance: every query is a per-doc map plus at most one equi-join
  * shuffle (shingle inverted index, LSH band key, lang bucket). Nothing is
  * quadratic in the corpus: candidate generation always goes through a
  * key join with a document-frequency cut, the way a 100 TB dedup run has
  * to.
  */
object TextPipeline {

  /** The documents corpus, read as is: no layout step. The fixtures ship
    * each table as one parquet row group, so a scan is one task; a query
    * whose per-row kernel measured a win from spreading that task adds
    * the step at its own call site ([[spreadDocs]]). */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** [[docs]] hash-spread on `doc_id` over the session's cores: the
    * explicit layout step of the queries whose per-row kernels (shingle
    * md5s, token HOFs, gram builds) measured a warm win from leaving the
    * single scan task. It hashes on `doc_id`, not round-robin, so where
    * q116's funnel reuses such a stage (q88) it adds no new shuffle key. */
  private def spreadDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  private val stopEn = Seq("the", "of", "and", "to", "in", "is", "that", "it")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "von", "mit", "nicht")
  private val stopEs = Seq("el", "la", "que", "y", "en", "un", "es", "los")
  private val stopFr = Seq("le", "la", "et", "un", "est", "que", "pour", "dans")

  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")
  private def stopCount(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => t.isin(stops: _*)))

  // ---------------------------------------------------------------- q20
  /** Per-document text statistics: whitespace + BPE-ish token counts,
    * punctuation ratio, average token length, and a quality flag — the
    * length/punct/stopword-ratio quality-scoring family. */
  val q20DocStats: Q = Q.sql(
    "q20_doc_stats",
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(len(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS DOUBLE) / len(toks) AS stop_ratio,
       |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
       |  CAST(CASE WHEN len(toks) >= 5
       |        AND length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 5 <= length(text)
       |       THEN 1 ELSE 0 END AS BIGINT) AS quality
       |FROM t""".stripMargin) { (s, dir) =>
    val toks = Text.tokens(col("text"))
    val nPunct = length(regexp_replace(col("text"), "[^.,!?;:]", ""))
    docs(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(Text.bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
      nPunct.cast("long").as("n_punct"),
      (stopCount(toks, stopEn).cast("double") / size(toks)).as("stop_ratio"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long").as("n_spaces"),
      when(size(toks) >= 5 && nPunct * 5 <= length(col("text")), 1L).otherwise(0L).as("quality"))
  }

  // ---------------------------------------------------------------- q21
  /** Stopword-profile language ID: score each doc against four tiny
    * stopword profiles, argmax with a deterministic priority order, and
    * compare against the labeled `lang`. */
  val q21LangId: Q = Q.sql(
    "q21_lang_id",
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS c_en,
       |    len(list_filter(toks, x -> x IN (${sqlList(stopDe)}))) AS c_de,
       |    len(list_filter(toks, x -> x IN (${sqlList(stopEs)}))) AS c_es,
       |    len(list_filter(toks, x -> x IN (${sqlList(stopFr)}))) AS c_fr
       |  FROM t
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
       |       WHEN c_en >= greatest(c_de, c_es, c_fr) THEN 'en'
       |       WHEN c_de >= greatest(c_es, c_fr) THEN 'de'
       |       WHEN c_es >= c_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang,
       |  CAST(CASE WHEN lang = (CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
       |       WHEN c_en >= greatest(c_de, c_es, c_fr) THEN 'en'
       |       WHEN c_de >= greatest(c_es, c_fr) THEN 'de'
       |       WHEN c_es >= c_fr THEN 'es'
       |       ELSE 'fr' END) THEN 1 ELSE 0 END AS BIGINT) AS hit
       |FROM sc""".stripMargin) { (s, dir) =>
    val toks = Text.tokens(col("text"))
    val scored = docs(s, dir).select(
      col("doc_id"), col("lang"),
      stopCount(toks, stopEn).as("c_en"),
      stopCount(toks, stopDe).as("c_de"),
      stopCount(toks, stopEs).as("c_es"),
      stopCount(toks, stopFr).as("c_fr"))
    val pred =
      when(col("c_en") + col("c_de") + col("c_es") + col("c_fr") === 0, "und")
        .when(col("c_en") >= greatest(col("c_de"), col("c_es"), col("c_fr")), "en")
        .when(col("c_de") >= greatest(col("c_es"), col("c_fr")), "de")
        .when(col("c_es") >= col("c_fr"), "es")
        .otherwise("fr")
    scored.select(
      col("doc_id"), col("lang"), pred.as("pred_lang"),
      when(col("lang") === pred, 1L).otherwise(0L).as("hit"))
  }

  // ---------------------------------------------------------------- q22
  /** Exact dedup by content hash (hash-groupBy): one group per distinct
    * text, representative = min doc_id. The 100 TB form of `DISTINCT`:
    * group on md5(text), never on the full text bytes. */
  val q22ExactDedup: Q = Q.sql(
    "q22_exact_dedup",
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS rep_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
  }

  /** Shared shingle-hash inverted index: one row per (doc, distinct
    * 3-gram shingle hash). Joining/counting on the 60-bit md5-derived int
    * instead of the shingle string shrinks the shuffle ~5× (the 100 TB
    * discipline: never shuffle raw text).
    *
    * Shape matters here: the one-liner HOF chain
    * (`transform(wordShingles(...), baseHash)`) is interpreted per array
    * element (HOF lambdas don't codegen) and measured 13s at sf0.1; this
    * explode → window-lead 3-gram → scalar md5 form runs the hash inside
    * whole-stage codegen and does the same work in ~1s. Same output set —
    * the oracle SQL is unchanged. */
  private def shingleHashRows(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"), col("source"),
      posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .select(col("doc_id"), col("source"),
        lead(col("tok"), 2).over(w).as("t2"),
        concat_ws(" ", col("tok"),
          lead(col("tok"), 1).over(w), lead(col("tok"), 2).over(w)).as("shingle"))
      .filter(col("t2").isNotNull) // only full 3-grams
      .select(col("doc_id"), col("source"), Text.baseHash(col("shingle")).as("h"))
      .distinct()
  }

  /** Session-cached shingle index, one per sf dir: built once, eagerly
    * materialized (a lazily-cached frame referenced by several branches
    * of one action is computed per branch), shared by every dedup query
    * (q23-q25, q29, q46) and the overlap sketches (q102 — `source` rides
    * along so sketch building is join-free). Weak session keying via
    * [[graft.SessionCache]]. */
  private def shingleIndex(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"text#$dir#shingle-index") {
      val df = shingleHashRows(s, dir).cache()
      df.count()
      df
    }

  private val shingleHashSql =
    """SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)],
      |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT))) AS h
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
      |  WHERE len(t) >= 3""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Exact n-gram Jaccard near-dup pairs via shingle inverted index:
    * explode distinct word-3-gram shingle hashes, document-frequency cut
    * (drop shingles in >100 docs — the skew guard that keeps the
    * self-join linear at scale), equi-join on hash, Jaccard ≥ 0.5. */
  val q23NgramJaccard: Q = Q.sql(
    "q23_ngram_jaccard",
    s"""WITH sh AS (
      |  $shingleHashSql
      |), shf AS (
      |  SELECT sh.doc_id, sh.h FROM sh
      |  JOIN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= 100) f USING (h)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM shf a JOIN shf b USING (h)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin) { (s, dir) =>
    // df cut via heavy-hitter anti-join: shingles in >100 docs are few
    // relative to the index (≤ |index|/100 — small in practice, but NOT
    // a broadcast-safe bound at the 100 TB target), so the cut is a
    // partial-agg count + an EQUI anti-join instead of the former
    // `count over (partition by h)` full window sort. AQE picks the
    // strategy: broadcast while the heavy set is small, shuffled
    // anti-join when it isn't — no driver-memory cliff either way. Set
    // sizes ride in the same way.
    val idx = shingleIndex(s, dir)
    val heavy = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 100).select(col("h"))
    val cut = idx.join(heavy, Seq("h"), "left_anti")
    val sizes = cut.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val shz = cut.join(sizes, Seq("doc_id"))
    // lossless prefilter: jaccard >= 0.5 forces |A|,|B| within 2x of each
    // other (i <= min and i >= (|A|+|B|)/3 => max <= 2*min), so the pair
    // join prunes dissimilar-size pairs before the aggregation — same
    // results, smaller shuffle. The oracle keeps the unfiltered form;
    // outputs are identical.
    val inter = shz.as("a")
      .join(shz.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") <= col("b.sz") * 2 && col("b.sz") <= col("a.sz") * 2)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"),
        first(col("a.sz")).as("sza"), first(col("b.sz")).as("szb"))
    val jac = col("i").cast("double") / (col("sza") + col("szb") - col("i"))
    inter
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  /** Shared MinHash-LSH band rows (doc_id, band, band_key): 31-bit
    * shingle hashes → 12 arithmetic permutation minima (scalar min
    * aggregates, one shuffle on doc_id) → 4 bands × 3 rows. Equivalent to
    * [[Text.minhashSignature]]/[[Text.bandKeys]] but aggregation-shaped:
    * md5 runs once per (doc, shingle) and signatures build in the
    * map-side combine. */
  private def minhashBandRows(s: SparkSession, dir: String): DataFrame =
    minhashBandRowsFrom(shingleIndex(s, dir))

  /** Band rows from an (already materialized) shingle index — q25 shares
    * ONE cached index between band generation and Jaccard verification
    * instead of building two lineages over the same posexplode+window
    * scan (the round-1 bench's single biggest line). */
  private def minhashBandRowsFrom(shingles: DataFrame): DataFrame = {
    val hashed = shingles
      .select(col("doc_id"), (col("h") % Text.MinhashP).as("h31"))
    val slots = (0 until 12).map(sd =>
      min((lit(sd * 2 + 1) * col("h31") + lit(sd * 1000003 + 12345)) % Text.MinhashP)
        .as(s"m$sd"))
    val sig = hashed.groupBy("doc_id").agg(slots.head, slots.tail: _*)
    val bandKey = (b: Int) => md5(concat_ws("|", lit(b),
      col(s"m${3 * b}"), col(s"m${3 * b + 1}"), col(s"m${3 * b + 2}")))
    sig.select(col("doc_id"),
        posexplode(array((0 until 4).map(bandKey): _*)))
      .select(col("doc_id"), col("pos").cast("long").as("band"),
        col("col").as("band_key"))
  }

  private val minhashBandsSql =
    s"""WITH shb AS (
       |  $shingleHashSql
       |), sig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 12), sd -> list_min(list_transform(
       |      list(h % 2147483647),
       |      hv -> ((sd*2+1)*hv + (sd*1000003+12345)) % 2147483647))) AS sg
       |  FROM shb GROUP BY doc_id
       |)
       |SELECT doc_id, CAST(b AS BIGINT) AS band,
       |  md5(concat_ws('|', b, array_to_string(sg[b*3+1 : b*3+3], '|'))) AS band_key
       |FROM sig, UNNEST(range(0, 4)) r(b)""".stripMargin

  // ---------------------------------------------------------------- q24
  /** MinHash LSH bucketing: 12-slot arithmetic MinHash signature per doc,
    * hashed into 4 bands of 3 rows; one output row per (doc, band). Docs
    * sharing a band_key are near-dup candidates — the equi-join key that
    * replaces the quadratic compare at scale. */
  val q24MinhashBands: Q = Q.sql(
    "q24_minhash_bands",
    minhashBandsSql)(minhashBandRows)

  /** The LSH candidate pairs with their exact Jaccard, BEFORE any
    * threshold — shared by the dedup pipeline (≥ 0.5 keeps near-dups)
    * and the hard-negative miner q151 (< 0.2 keeps lexical colliders
    * that are NOT dups). Appending the WHERE keeps [[minhashDedupSql]]
    * byte-identical to its long-gated round-2 form. */
  private val candJaccardSql =
    s"""WITH bands AS (
      |  $minhashBandsSql
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b USING (band_key)
      |  WHERE a.doc_id < b.doc_id
      |), sh AS (
      |  $shingleHashSql
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.doc_a
      |  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b""".stripMargin

  private val minhashDedupSql = candJaccardSql +
    "\nWHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5"

  private def candidateJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(s, dir)
    val bands = minhashBandRowsFrom(sh).cache()
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.as("sa0"), col("sa0.doc_id") === col("doc_a"))
      .join(sh.as("sb0"), col("sb0.doc_id") === col("doc_b") &&
        col("sb0.h") === col("sa0.h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") /
      (col("sa.sz") + col("sb.sz") - col("i"))
    inter
      .join(sizes.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sizes.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  private def minhashDedupPairs(s: SparkSession, dir: String): DataFrame =
    candidateJaccard(s, dir).filter(col("jaccard") >= 0.5)

  // ---------------------------------------------------------------- q25
  /** MinHash LSH near-dup pairs: candidates = docs sharing ≥1 band key
    * (equi-join on band_key), verified with exact shingle-hash Jaccard
    * ≥ 0.5. This is the full scalable dedup: LSH prunes candidates, the
    * exact check removes false positives. */
  val q25MinhashDedup: Q = Q.sql("q25_minhash_dedup", minhashDedupSql)(minhashDedupPairs)

  // ---------------------------------------------------------------- q29
  /** Dedup clustering — the last step of a real dedup pipeline: connected
    * components over the verified near-dup pairs (GraphX, component id =
    * min doc_id), every document assigned a cluster + a representative
    * flag. Keep-one-per-cluster is then a single filter. The oracle
    * re-derives components with a recursive transitive closure. */
  private[queries] def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = s
    import spark.implicits._
    val edges = minhashDedupPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val cc = Graph.fromEdges(edges, defaultValue = 0)
      .connectedComponents().vertices
      .toDF("doc_id", "comp")
    docs(s, dir).select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("comp").cast("long"), col("doc_id")).as("cluster_id"))
  }

  private[queries] val clustersSql =
    s"""pairs AS (
       |  $minhashDedupSql
       |),
       |und AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs
       |),
       |r(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM r JOIN und u ON r.b = u.a
       |),
       |comp AS (
       |  SELECT d.doc_id,
       |         least(d.doc_id,
       |           coalesce((SELECT min(b) FROM r WHERE a = d.doc_id), d.doc_id))
       |           AS cluster_id
       |  FROM documents d
       |)""".stripMargin

  val q29DedupClusters: Q = Q.sql(
    "q29_dedup_clusters",
    s"""WITH RECURSIVE $clustersSql
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_representative,
       |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM comp""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("cluster_id"))
    dedupClusters(s, dir)
      .withColumn("is_representative", col("doc_id") === col("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  // ---------------------------------------------------------------- q46
  /** The end-to-end training-data cleaning pipeline: language-tagged
    * documents -> quality gate (q20's length/punctuation rule) ->
    * near-dup removal (one representative per q29 LSH cluster) -> the
    * clean corpus with its token counts. This is the composite query an
    * LLM-data pipeline actually ships; every stage is the oracle-gated
    * operator registered above. */
  val q46CleanCorpus: Q = Q.sql(
    "q46_clean_corpus",
    s"""WITH RECURSIVE $clustersSql,
       |q AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 5
       |               AND length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 5 <= length(text)
       |              THEN 1 ELSE 0 END AS quality
       |  FROM documents
       |)
       |SELECT q.doc_id, q.lang, q.n_tokens, c.cluster_id
       |FROM q JOIN comp c USING (doc_id)
       |WHERE q.quality = 1 AND c.cluster_id = q.doc_id""".stripMargin) { (s, dir) =>
    val toks = Text.tokens(col("text"))
    val nPunct = length(regexp_replace(col("text"), "[^.,!?;:]", ""))
    val quality = docs(s, dir).select(
      col("doc_id"), col("lang"),
      size(toks).cast("long").as("n_tokens"),
      when(size(toks) >= 5 && nPunct * 5 <= length(col("text")), 1L)
        .otherwise(0L).as("quality"))
    quality
      .join(dedupClusters(s, dir), Seq("doc_id"))
      .filter(col("quality") === 1 && col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cluster_id"))
  }

  /** Shared SimHash SQL: one md5-derived 60-bit int per token, then 32
    * bit-test vote sums as aggregate columns (no per-bit row explosion —
    * the shuffle carries one row per token, not 32). */
  private val simhashVoteCols = (0 until 32)
    .map(j => s"SUM(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
    .mkString(",\n      |    ")
  private val simhashAssemble = (0 until 32)
    .map(j => s"(CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
    .mkString(" + ")
  private val simhashSql =
    s"""SELECT doc_id, $simhashAssemble AS simhash
      |  FROM (
      |    SELECT doc_id,
      |    $simhashVoteCols
      |    FROM (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
      |          FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      |                FROM documents))
      |    GROUP BY doc_id)""".stripMargin

  private def simhashRows(d: DataFrame): DataFrame = {
    val hashed = d
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Text.baseHash(col("tok")).as("hv"))
    val votes = (0 until 32).map(j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$j"))
    hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  // ---------------------------------------------------------------- q26
  /** 32-bit SimHash signature per document: each token's md5-derived hash
    * votes ±1 on every bit position; bit set where votes are positive. */
  val q26Simhash: Q = Q.sql("q26_simhash", simhashSql) { (s, dir) =>
    simhashRows(docs(s, dir))
  }

  // ---------------------------------------------------------------- q27
  /** SimHash near-dup pairs (hamming ≤ 2) via PIGEONHOLE segment
    * banding: split the 32-bit signature into 3 segments (11/11/10
    * bits); hamming ≤ 2 means at most 2 segments differ, so every true
    * pair matches exactly on ≥1 segment — candidates come from a
    * LOSSLESS equi-join on (lang, segment_index, segment_value), never
    * an all-pairs compare inside the lang bucket. Output is identical
    * to the quadratic form (the oracle keeps the all-pairs spelling as
    * the independent check). */
  val q27SimhashPairs: Q = Q.sql(
    "q27_simhash_pairs",
    s"""WITH sh AS (
      |  $simhashSql
      |), tagged AS (
      |  SELECT d.doc_id, d.lang, sh.simhash FROM documents d JOIN sh USING (doc_id)
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM tagged a JOIN tagged b
      |  ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin) { (s, dir) =>
    val sh = simhashRows(spreadDocs(s, dir))
    val tagged = docs(s, dir).select(col("doc_id"), col("lang"))
      .join(sh, Seq("doc_id"))
    // r12: materialized — both sides of the segment self-join read this
    // frame, and the per-doc simhash kernel is the expensive part; a
    // checkpoint guarantees it computes once however the join is planned
    val segs = tagged.select(col("doc_id"), col("lang"), col("simhash"),
      posexplode(array(
        col("simhash").bitwiseAND(lit(0x7FFL)),
        shiftright(col("simhash"), 11).bitwiseAND(lit(0x7FFL)),
        shiftright(col("simhash"), 22))).as(Seq("seg", "segval")))
      .localCheckpoint()
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    segs.as("a")
      .join(segs.as("b"), col("a.lang") === col("b.lang") &&
        col("a.seg") === col("b.seg") && col("a.segval") === col("b.segval") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct() // a pair may collide in 2-3 segments
      .filter(hamming <= 2)
      .select(col("doc_a"), col("doc_b"), hamming.cast("long").as("hamming"))
  }

  // ---------------------------------------------------------------- q28
  /** Rolling-hash document fingerprint: min seeded md5 over the distinct
    * character-8-gram set (winnowing-style min-sampling), two seeds
    * concatenated, plus the shingle count. */
  val q28Fingerprint: Q = Q.sql(
    "q28_fingerprint",
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([substr(text, i, 8) for i in range(1, length(text) - 6)]) AS s
      |  FROM documents WHERE length(text) >= 8
      |)
      |SELECT doc_id,
      |  concat_ws('_',
      |    list_min(list_transform(s, x -> md5(concat_ws(':', 0, x)))),
      |    list_min(list_transform(s, x -> md5(concat_ws(':', 1, x))))) AS fingerprint,
      |  CAST(len(s) AS BIGINT) AS n_shingles
      |FROM sh""".stripMargin) { (s, dir) =>
    val sh = Text.charShingles(col("text"), 8)
    spreadDocs(s, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), sh.as("s"))
      .select(col("doc_id"),
        concat_ws("_",
          array_min(transform(col("s"), x => md5(concat_ws(":", lit(0), x)))),
          array_min(transform(col("s"), x => md5(concat_ws(":", lit(1), x))))).as("fingerprint"),
        size(col("s")).cast("long").as("n_shingles"))
  }

  // ---------------------------------------------------------------- q44
  /** KMV (K-minimum-values) distinct-count sketch, k = 16: estimate the
    * distinct-token count per language from the 16th-smallest md5-derived
    * hash. Unlike HLL, the sketch is a deterministic function of the data
    * — both engines compute identical hashes, so the ESTIMATE itself is
    * oracle-checkable, not just the exact count it approximates. The
    * aggregation shape (per-key k-smallest) is one window + one groupBy —
    * mergeable partials, the 100 TB sketch discipline. */
  val q44KmvDistinct: Q = Q.sql(
    "q44_kmv_distinct",
    """WITH t AS (
      |  SELECT DISTINCT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      |  FROM (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents)
      |),
      |r AS (
      |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      |  FROM t
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_exact,
      |  coalesce(
      |    CAST(15 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
      |      / max(CASE WHEN rn = 16 THEN h END),
      |    CAST(count(*) AS DOUBLE)) AS kmv_estimate
      |FROM r GROUP BY lang""".stripMargin) { (s, dir) =>
    val toks = spreadDocs(s, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("lang"), Text.baseHash(col("tok")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("lang")).orderBy(col("h"))
    toks
      .withColumn("rn", row_number().over(w))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_exact"),
        max(when(col("rn") === 16, col("h"))).as("h_k"))
      .select(col("lang"), col("n_exact"),
        coalesce(lit(15.0) * lit(1.152921504606846976e18) / col("h_k"),
          col("n_exact").cast("double")).as("kmv_estimate"))
  }

  // ---------------------------------------------------------------- q102
  /** Corpus-overlap estimation via KMV set algebra — "how much does
    * source A share with source B?" answered WITHOUT any join between
    * the corpora. Per source: the shared session-cached shingle index
    * (60-bit word-3-gram hashes, `source` rides along from the build so
    * this stays join-free) feeds the native [[graft.functions.KmvValues]]
    * sketch (k=256 smallest distinct hashes, mergeable O(k) state). The
    * only shuffle is 20 sketch partials per partition; the pairwise
    * stage is a broadcast self-join of 20 k-element arrays. From two sketches the Beyer et
    * al. (SIGMOD'07) multiset estimators are plain array functions:
    * `K_∪ = slice(sort(union), k)`, `ρ = |K_∪ ∩ K_A ∩ K_B| / k ≈ J`,
    * `|A ∪ B| ≈ (k-1)·2^60 / max(K_∪)`, `|A ∩ B| ≈ ρ·|A ∪ B|`.
    * This is the 100 TB decontamination-planning primitive: rank source
    * pairs by estimated overlap before paying for an exact pair join
    * (q89), at one scan + O(sources²·k) driver-free arithmetic. The
    * whole pipeline is a deterministic function of the input hash sets,
    * so the oracle recomputes it closed-form (list(DISTINCT)→sort→slice
    * is DuckDB's spelling of the same sketch). */
  val q102KmvOverlap: Q = {
    val k = 256
    Q.sql(
      "q102_kmv_overlap",
      s"""WITH sh AS (
        |  SELECT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        |  FROM (SELECT source, unnest(list_distinct(
        |      [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)])) AS g
        |    FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS t
        |          FROM documents)
        |    WHERE len(t) >= 3)
        |), kv AS (
        |  SELECT source, list_sort(list(DISTINCT h))[1:$k] AS kvs
        |  FROM sh GROUP BY source
        |), p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    a.kvs AS ka, b.kvs AS kb,
        |    list_sort(list_distinct(list_concat(a.kvs, b.kvs)))[1:$k] AS ku
        |  FROM kv a JOIN kv b ON a.source < b.source
        |)
        |SELECT source_a, source_b,
        |  CASE WHEN len(ku) >= $k
        |    THEN CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |      / CAST(ku[$k] AS DOUBLE)
        |    ELSE CAST(len(ku) AS DOUBLE) END AS est_union,
        |  CAST(len(list_intersect(list_intersect(ku, ka), kb)) AS DOUBLE)
        |    / CAST(least($k, len(ku)) AS DOUBLE) AS jaccard_est,
        |  (CAST(len(list_intersect(list_intersect(ku, ka), kb)) AS DOUBLE)
        |    / CAST(least($k, len(ku)) AS DOUBLE))
        |  * (CASE WHEN len(ku) >= $k
        |      THEN CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |        / CAST(ku[$k] AS DOUBLE)
        |      ELSE CAST(len(ku) AS DOUBLE) END) AS est_intersection
        |FROM p""".stripMargin,
      "KMV sketch union/intersect/Jaccard across sources — overlap without a corpus join") {
      (s, dir) =>
        val sketches = shingleIndex(s, dir)
          .groupBy(col("source"))
          .agg(graft.functions.KmvValues.values(col("h"), k).as("kvs"))
        val a = sketches.as("a")
        val b = sketches.as("b")
        val ku = slice(array_sort(array_union(col("a.kvs"), col("b.kvs"))), 1, k)
        val pairs = a.join(broadcast(b), col("a.source") < col("b.source"))
          .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
            col("a.kvs").as("ka"), col("b.kvs").as("kb"), ku.as("ku"))
        val estUnion = when(size(col("ku")) >= k,
          lit((k - 1).toDouble) * lit(1.152921504606846976e18)
            / element_at(col("ku"), k).cast("double"))
          .otherwise(size(col("ku")).cast("double"))
        val jaccard = size(array_intersect(array_intersect(col("ku"), col("ka")),
            col("kb"))).cast("double") /
          least(lit(k), size(col("ku"))).cast("double")
        pairs.select(col("source_a"), col("source_b"),
          estUnion.as("est_union"), jaccard.as("jaccard_est"),
          (jaccard * estUnion).as("est_intersection"))
    }
  }

  // ---------------------------------------------------------------- q76
  /** Deterministic corpus sampling — the subsampling step of a training
    * run, engine-portable and reproducible: a hash-Bernoulli flag
    * (md5(doc_id) % 100 < 5 ≈ a seeded 5% sample, map-only — no shuffle,
    * no RNG state) and a stratified per-language cap (row_number over the
    * hash order, WindowGroupLimit prunes to the top 20 per class before
    * the sort completes). */
  val q76StratifiedSample: Q = Q.sql(
    "q76_stratified_sample",
    """WITH h AS (
      |  SELECT doc_id, lang,
      |         ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      |  FROM documents
      |)
      |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk, hv % 100 < 5 AS in_bernoulli
      |FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
      |      FROM h)
      |WHERE rk <= 20""".stripMargin) { (s, dir) =>
    val hv = Text.baseHash(concat(lit("smp|"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang")).orderBy(col("hv"), col("doc_id"))
    docs(s, dir)
      .select(col("lang"), col("doc_id"), hv.as("hv"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("doc_id"), col("rk").cast("long").as("rk"),
        (col("hv") % 100 < 5).as("in_bernoulli"))
  }

  // ---------------------------------------------------------------- q79
  /** TF-IDF top-3 terms per document — the term-weighting stage of a
    * corpus pipeline (keyword extraction / relevance features).
    *
    * Weighting uses the raw-ratio idf `N / df` instead of `log(N / df)`:
    * transcendentals are NOT bit-identical across engines (DuckDB's libm
    * vs the JVM's Math.log can differ in the last ulp), while IEEE-754
    * `*` and `/` are correctly rounded everywhere — so
    * `CAST(tf AS DOUBLE) * N / df`, evaluated in that exact operation
    * order on both sides, hash-matches. Scale shape: tokenize→explode is
    * map-only; tf is one partial-aggregated groupBy on (doc, term); df
    * reuses the tf frame with a second groupBy on term; N joins in as a
    * 1-row broadcast; top-3 per doc is a rank window the optimizer prunes
    * with WindowGroupLimit before the full sort. */
  val q79Tfidf: Q = Q.sql(
    "q79_tfidf",
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, lower(t) AS term FROM tk WHERE length(t) > 0
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
      |    CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |)
      |SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      |      FROM scored) s
      |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val toks = d
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .filter(length(col("t")) > 0)
      .select(col("doc_id"), lower(col("t")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfTbl, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * col("n_docs") / col("df")).as("tfidf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"),
        col("rnk").cast("long").as("rnk"))
  }

  // ---------------------------------------------------------------- q87
  /** Sequence packing — the training-batch assembly stage: concatenate
    * each language shard's token stream in deterministic (doc_id) order
    * and cut it into fixed 4096-token context windows, mapping every
    * document to its `[start_tok, end_tok)` span and the chunk range it
    * lands in (documents may straddle a boundary — that's the GPT-style
    * pack-then-chunk discipline, no padding waste).
    *
    * Scale shape: the cumsum window partitions by the SHARD (`lang`), not
    * globally — shards are the unit of parallelism, so no single-
    * partition global sort exists; within a shard the prefix sum is one
    * sort + one running window. At 100 TB shards are (lang, shard_id)
    * buckets of bounded size; the math is unchanged. */
  val q87SeqPack: Q = Q.sql(
    "q87_seq_pack",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |    AS BIGINT) AS start_tok
      |  FROM t
      |)
      |SELECT doc_id, lang, n_tokens,
      |  start_tok,
      |  start_tok + n_tokens AS end_tok,
      |  start_tok // 4096 AS start_chunk,
      |  (start_tok + n_tokens - 1) // 4096 AS end_chunk
      |FROM c""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("start_tok"),
        (col("start_tok") + col("n_tokens")).as("end_tok"),
        expr("start_tok div 4096").as("start_chunk"),
        expr("(start_tok + n_tokens - 1) div 4096").as("end_chunk"))
  }

  // ---------------------------------------------------------------- q88
  /** Intra-document repetition scoring (the Gopher-style quality rule
    * "fraction of the document that is its most common n-gram"): per doc,
    * the count of every word 2-gram WITH multiplicity (unlike the
    * [[graft.ops.Text.wordShingles]] dedup-set used by the similarity
    * pipeline), the max single-gram count, their ratio, and a repetitive
    * flag at 0.1. Docs under 2 tokens carry zero grams and a false flag.
    * Scale shape: explode → two partial-aggregated groupBys on (doc,
    * gram) then (doc) — the same inverted-index discipline as q23, no
    * text leaves the executor un-hashed... here grams stay as strings
    * only within the per-doc aggregation, which is bounded by doc
    * length. */
  val q88Repetition: Q = Q.sql(
    "q88_repetition",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    list_extract(toks, CAST(i AS INT)) || ' ' ||
      |      list_extract(toks, CAST(i AS INT) + 1) AS gram
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
      |  WHERE len(toks) >= 2
      |), c AS (
      |  SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2
      |), a AS (
      |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams,
      |         CAST(MAX(n) AS BIGINT) AS max_gram
      |  FROM c GROUP BY 1
      |)
      |SELECT d.doc_id,
      |  COALESCE(a.n_grams, 0) AS n_grams,
      |  COALESCE(a.max_gram, 0) AS max_gram,
      |  CASE WHEN a.n_grams IS NULL THEN CAST(0.0 AS DOUBLE)
      |       ELSE CAST(a.max_gram AS DOUBLE) / a.n_grams END AS rep_ratio,
      |  CASE WHEN a.n_grams IS NULL THEN FALSE
      |       ELSE CAST(a.max_gram AS DOUBLE) / a.n_grams > 0.1 END AS repetitive
      |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id""".stripMargin) { (s, dir) =>
    // tokens materialized in their OWN projection before the lambda —
    // element_at inside transform would otherwise re-run the tokenizer
    // per bigram (the q109/q135 HOF-recompute trap)
    val grams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + lit(1)))))
      .otherwise(array().cast("array<string>"))
    val d = spreadDocs(s, dir)
    val agg = d
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(grams).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        sum(col("n")).cast("long").as("n_grams"),
        max(col("n")).cast("long").as("max_gram"))
    val ratio = col("max_gram").cast("double") / col("n_grams")
    d.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("max_gram"), lit(0L)).as("max_gram"),
        when(col("n_grams").isNull, 0.0).otherwise(ratio).as("rep_ratio"),
        when(col("n_grams").isNull, false).otherwise(ratio > 0.1).as("repetitive"))
  }

  // ---------------------------------------------------------------- q89
  /** Eval-set decontamination — test/train overlap detection, the stage
    * every training pipeline runs before holding out an eval set: the
    * deterministic 5% Bernoulli split of q76 partitions the corpus, and
    * every (test doc, train doc) pair sharing a rare character 8-gram is
    * reported with its shared-gram count.
    *
    * Scale discipline (same as q23): grams are hashed to 60-bit ints
    * before any shuffle, and grams in more than 20 documents are cut —
    * ultra-common substrings are contamination noise AND the skew that
    * would quadratic-blow the gram equi-join. The pair join is test-side
    * × train-side on the gram hash: both sides are document-frequency-
    * bounded, so candidate fan-out is capped at df per gram. */
  /** Session-cached char-8-gram hash index (doc_id, is_test, g), eagerly
    * materialized: q89 references it from THREE plan branches (the df
    * cut, the test side, the train side) — uncached, the explode + md5
    * lineage would run once per branch. Weak session keying via
    * [[graft.SessionCache]]. */
  private def charGramIndex(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"text#$dir#chargram-index") {
      val isTest =
        Text.baseHash(concat(lit("smp|"), col("doc_id").cast("string"))) % 100 < 5
      val df = docs(s, dir)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), isTest.as("is_test"),
          explode(Text.charShingles(col("text"), 8)).as("gram"))
        .select(col("doc_id"), col("is_test"), Text.baseHash(col("gram")).as("g"))
        .cache()
      df.count()
      df
    }

  val q89Contamination: Q = Q.sql(
    "q89_contamination",
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 100 < 5 AS is_test
      |  FROM documents
      |), sh0 AS (
      |  SELECT doc_id,
      |    unnest(list_distinct([substr(text, i, 8)
      |      for i in range(1, length(text) - 6)])) AS gram
      |  FROM documents WHERE length(text) >= 8
      |), sh AS (
      |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g
      |  FROM sh0
      |), dfc AS (
      |  SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 20
      |), kept AS (
      |  SELECT sh.doc_id, sh.g FROM sh JOIN dfc USING (g)
      |), te AS (
      |  SELECT kept.doc_id AS test_doc, g
      |  FROM kept JOIN h ON h.doc_id = kept.doc_id WHERE h.is_test
      |), tr AS (
      |  SELECT kept.doc_id AS train_doc, g
      |  FROM kept JOIN h ON h.doc_id = kept.doc_id WHERE NOT h.is_test
      |)
      |SELECT te.test_doc, tr.train_doc, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM te JOIN tr USING (g)
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val sh = charGramIndex(s, dir)
    val rare = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20).select(col("g"))
    val kept = sh.join(rare, Seq("g"))
    val te = kept.filter(col("is_test"))
      .select(col("g"), col("doc_id").as("test_doc"))
    val tr = kept.filter(!col("is_test"))
      .select(col("g"), col("doc_id").as("train_doc"))
    te.join(tr, Seq("g"))
      .groupBy("test_doc", "train_doc")
      .agg(count(lit(1)).as("n_shared"))
  }

  // ---------------------------------------------------------------- q93
  /** Deterministic corpus shuffle + shard assignment — the data-loader
    * side of q87's packing: every doc gets a pseudo-random but
    * reproducible position via `md5(doc_id)`, shard = hash % 32, and an
    * intra-shard token offset. Hash-sharding means NO global sort exists
    * anywhere: shards are independent partitions, each locally ordered by
    * the hash — at 100 TB that's one hash-partitioned shuffle and 32-way
    * (or 32k-way) parallel local sorts, the exact shape training data
    * loaders need for deterministic reshuffled epochs. Both engines parse
    * the first 15 md5 hex chars (< 2^60, so the BIGINT is positive and
    * `% 32` agrees across engines' modulo conventions). */
  val q93ShuffleShard: Q = Q.sql(
    "q93_shuffle_shard",
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents
      |), s AS (
      |  SELECT *, h % 32 AS shard FROM t
      |)
      |SELECT doc_id, shard, n_tokens,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos,
      |  CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |    AS BIGINT) AS start_tok
      |FROM s""".stripMargin) { (s, dir) =>
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"), h.as("h"))
      .withColumn("shard", col("h") % 32)
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("start_tok", sum(col("n_tokens")).over(wSum) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("pos"),
        col("start_tok"))
  }

  // ---------------------------------------------------------------- q94
  /** Quality-ordered token-budget curation: per language, rank docs by
    * stopword ratio (q20's quality signal) and keep docs until the
    * 2,500-token budget is filled — a doc is kept iff it STARTS inside
    * the budget (same crossing rule as q87's chunk tiling), so the cut is
    * a pure window predicate. Scale shape: one window per lang shard, no
    * global sort, no iteration — "give me the best N tokens per language"
    * is exactly how curated pre-training mixes are drawn from a scored
    * corpus. Caveat at extreme scale: a per-lang window is one reducer
    * per lang; when a single language exceeds a reducer, the same draw is
    * done in two passes — see [[q94bThresholdDraw]], which derives the
    * per-lang score threshold from a bounded histogram and filters
    * map-side, trading the exact boundary doc for full parallelism. */
  val q94TokenBudget: Q = Q.sql(
    "q94_token_budget",
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS DOUBLE)
       |      / len(toks) AS stop_ratio
       |  FROM t
       |), r AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY stop_ratio DESC, doc_id) AS BIGINT) AS rnk,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY stop_ratio DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM sc
       |)
       |SELECT lang, doc_id, rnk, n_tokens, cum_tokens, stop_ratio
       |FROM r WHERE cum_tokens - n_tokens < 2500""".stripMargin) { (s, dir) =>
    val toks = Text.tokens(col("text"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("stop_ratio").desc, col("doc_id"))
    val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        (stopCount(toks, stopEn).cast("double") / size(toks)).as("stop_ratio"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wSum))
      .filter(col("cum_tokens") - col("n_tokens") < 2500)
      .select(col("lang"), col("doc_id"), col("rnk"), col("n_tokens"),
        col("cum_tokens"), col("stop_ratio"))
  }

  // ---------------------------------------------------------------- q94b
  /** The two-pass threshold draw — q94's extreme-scale form, promised in
    * q94's scaladoc caveat. Instead of one window per language over EVERY
    * doc (one reducer per lang), the draw is:
    *
    *   pass 1: aggregate per-(lang, score-bucket) token totals — a
    *     partial-agg shuffle whose output is bounded by langs × 1001
    *     buckets regardless of corpus size — then apply q94's exact
    *     budget-crossing rule ("kept iff it STARTS inside the budget") at
    *     BUCKET granularity over that tiny histogram, and take the lowest
    *     kept bucket per lang as the score threshold;
    *   pass 2: broadcast the per-lang thresholds back and keep docs with
    *     `bucket >= thr_bucket` — a pure map-side filter over the scan.
    *
    * The trade vs q94: the cut lands on a bucket boundary (here 1/1000 of
    * stop-ratio) rather than the exact boundary doc, so the kept set can
    * overshoot the budget by at most one bucket's tokens — in exchange the
    * big side never enters a window: at 100 TB a single dominant language
    * is no longer one reducer, and the only shuffle over the corpus is the
    * partial-agg histogram build. Buckets are `floor(stop_ratio * 1000)`;
    * both engines compute the same IEEE double product, so bucketing is
    * bit-identical (same parity argument as q94's stop_ratio itself). */
  val q94bThresholdDraw: Q = Q.sql(
    "q94b_threshold_draw",
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(toks, x -> x IN (${sqlList(stopEn)}))) AS DOUBLE)
       |      / len(toks) AS stop_ratio
       |  FROM t
       |), b AS (
       |  SELECT *, CAST(floor(stop_ratio * 1000) AS BIGINT) AS bucket FROM sc
       |), hist AS (
       |  SELECT lang, bucket, CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens
       |  FROM b GROUP BY lang, bucket
       |), cum AS (
       |  SELECT lang, bucket, bucket_tokens,
       |    CAST(SUM(bucket_tokens) OVER (PARTITION BY lang ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM hist
       |), thr AS (
       |  SELECT lang, MIN(bucket) AS thr_bucket
       |  FROM cum WHERE cum_tokens - bucket_tokens < 2500
       |  GROUP BY lang
       |)
       |SELECT b.lang, b.doc_id, b.n_tokens, b.stop_ratio, b.bucket,
       |  thr.thr_bucket
       |FROM b JOIN thr ON b.lang = thr.lang
       |WHERE b.bucket >= thr.thr_bucket""".stripMargin) { (s, dir) =>
    val toks = Text.tokens(col("text"))
    val scored = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        (stopCount(toks, stopEn).cast("double") / size(toks)).as("stop_ratio"))
      .withColumn("bucket", floor(col("stop_ratio") * 1000))
    // pass 1: bounded histogram (≤ langs × 1001 rows), window over THAT
    val hist = scored.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
      .filter(col("cum_tokens") - col("bucket_tokens") < 2500)
      .groupBy(col("lang")).agg(min(col("bucket")).as("thr_bucket"))
    // pass 2: map-side filter — thresholds broadcast, corpus never shuffles
    scored.join(broadcast(thr), "lang")
      .filter(col("bucket") >= col("thr_bucket"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("bucket"), col("thr_bucket"))
  }

  // ---------------------------------------------------------------- q97
  /** Overlapping sliding-window chunking — q87's sibling for the
    * retrieval/embedding side of the pipeline: windows of 64 tokens at
    * stride 48 (16-token overlap so no boundary context is lost), one
    * chunk row per (doc, offset), chunk text reassembled from the token
    * slice. Wholly map-side: tokenize → explode the offset sequence →
    * slice, no shuffle at all — at 100 TB this is embarrassingly
    * parallel over the document scan, which is exactly why RAG chunkers
    * are built this way. */
  val q97ChunkOverlap: Q = Q.sql(
    "q97_chunk_overlap",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, toks, CAST(i AS BIGINT) AS chunk_idx,
      |         CAST(i * 48 AS BIGINT) AS start_tok
      |  FROM t, UNNEST(range(0, 1 + (len(toks) - 1) // 48)) r(i)
      |)
      |SELECT doc_id, chunk_idx, start_tok,
      |  CAST(least(64, len(toks) - start_tok) AS BIGINT) AS chunk_tokens,
      |  array_to_string(
      |    toks[start_tok + 1 : start_tok + least(64, len(toks) - start_tok)],
      |    ' ') AS chunk_text
      |FROM c""".stripMargin) { (s, dir) =>
    val start = col("chunk_idx") * 48
    val chunkTokens = least(lit(64), size(col("toks")) - start.cast("int"))
    docs(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0L, CAST((size(toks) - 1) div 48 AS LONG))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"), start.as("start_tok"),
        chunkTokens.cast("long").as("chunk_tokens"),
        concat_ws(" ",
          slice(col("toks"), (start + 1).cast("int"), chunkTokens))
          .as("chunk_text"))
  }

  // ---------------------------------------------------------------- q98
  /** Winnowing fingerprint selection (the MOSS algorithm): positional
    * 8-gram rolling hashes, then per 5-hash window keep the minimum
    * (leftmost on ties), distinct selected (pos, hash) pairs = the
    * document's fingerprint set. Winnowing guarantees any match of
    * length ≥ w + gram - 1 = 12 chars shares a selected fingerprint, at
    * ~2/(w+1) the density of the full hash stream — the robust
    * local-dedup signature q28's global fingerprint can't give.
    *
    * Spark side: ONE codegen'd expression over the scan
    * ([[graft.functions.WinnowKernel]] — true O(1)-per-position rolling
    * polynomial hash, packed `fp·2³¹+pos` output), explode + unpack +
    * distinct; no joins, the final distinct is the only shuffle. This is
    * the r4→r5 rolling-hash swap the round-4 audit suggested: the
    * md5-per-position spelling paid a full digest per character position
    * on BOTH engines; the polynomial is bit-identical across engines
    * (DuckDB computes it as vectorized window `lead`s over exploded code
    * points, ~11× faster than its md5 form) and drops the digest from
    * the 100 TB scan entirely.
    *
    * Oracle: same hash via `lead` sums, same leftmost-min via
    * `MIN(hv·2³¹+i)` (packing makes the sliding MIN itself implement
    * the leftmost tie-break), then unpack — checked bit-for-bit. */
  val q98WinnowFingerprint: Q = Q.sql(
    "q98_winnow_fingerprint",
    """WITH cs AS (
      |  SELECT doc_id, [CAST(unicode(c) AS BIGINT) for c in split(text, '')] AS codes
      |  FROM documents
      |  WHERE length(text) >= 8
      |), ch AS (
      |  SELECT doc_id, r.i, codes[r.i] AS code
      |  FROM cs, UNNEST(range(1, len(codes) + 1)) r(i)
      |), h AS (
      |  SELECT doc_id, i,
      |    (code * 2003465299 + lead(code, 1) OVER w * 884122890
      |     + lead(code, 2) OVER w * 2072267652 + lead(code, 3) OVER w * 294499921
      |     + lead(code, 4) OVER w * 2248091 + lead(code, 5) OVER w * 17161
      |     + lead(code, 6) OVER w * 131 + lead(code, 7) OVER w) % 2147483647 AS hv
      |  FROM ch
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
      |  QUALIFY lead(code, 7) OVER w IS NOT NULL
      |), sel AS (
      |  SELECT doc_id, MIN(hv * 2147483648 + i) OVER w5 AS pk
      |  FROM h
      |  WINDOW w5 AS (PARTITION BY doc_id ORDER BY i
      |                ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
      |  QUALIFY COUNT(*) OVER w5 = 5
      |)
      |SELECT DISTINCT doc_id, CAST(pk % 2147483648 AS BIGINT) AS pos,
      |  CAST(pk // 2147483648 AS BIGINT) AS fp
      |FROM sel""".stripMargin) { (s, dir) =>
    spreadDocs(s, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        explode(graft.functions.Winnow.fingerprints(col("text"))).as("pk"))
      .select(col("doc_id"),
        col("pk").bitwiseAND(2147483647L).as("pos"),
        shiftright(col("pk"), 31).as("fp"))
      .distinct()
  }

  // ---------------------------------------------------------------- q105
  /** Exact corpus heavy hitters — every token holding ≥ 1/200th of all
    * token occurrences, with its exact count — via the two-pass
    * Misra–Gries pattern: pass 1 is one scan with O(k) aggregation state
    * (k = 256 > 1/φ = 200, so the MG summary provably contains every
    * φ-heavy token) folding candidates AND the total count together;
    * pass 2 re-scans, keeps only candidate hashes via a ≤ 256-row
    * broadcast join, and counts those exactly. No full token-universe
    * groupBy ever happens — at 100 TB that wide shuffle IS the cost of
    * the naive spelling, while both passes here shuffle at most
    * (#partitions × k) partial rows. The final filter restores exactness,
    * so the result is independent of the (partition-order-sensitive)
    * sketch contents and hash-gateable against the plain GROUP BY/HAVING
    * oracle.
    *
    * Reference analogue: frequency tables are materialized client-side
    * per game (services/game.py:142-171); this is the corpus-scale form.
    */
  val q105HeavyHitters: Q = Q.sql(
    "q105_heavy_hitters",
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents
      |), tot AS (SELECT COUNT(*) AS n FROM toks)
      |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM toks
      |GROUP BY token
      |HAVING COUNT(*) * 200 >= (SELECT n FROM tot)""".stripMargin) { (s, dir) =>
    import graft.functions.MgCandidates
    val toks = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .select(col("token"), Text.baseHash(col("token")).as("h"))
    // pass 1: candidates + total in ONE scan (shared aggregate)
    val sketch = toks.agg(
      count(lit(1)).as("n_total"),
      MgCandidates.candidates(col("h"), 256).as("cands"))
    val cand = sketch.select(col("n_total"), explode(col("cands")).as("h"))
    // pass 2: exact counts of the ≤ 256 candidates only. A hash collision
    // with a candidate only adds a token to the exact pass; the final
    // per-TOKEN filter still decides on true counts.
    toks.join(broadcast(cand), Seq("h"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"), first(col("n_total")).as("n_total"))
      .filter(col("cnt") * 200 >= col("n_total"))
      .select(col("token"), col("cnt"))
  }

  // ---------------------------------------------------------------- q106
  /** Decontamination drop-list via a broadcast Bloom prefilter — the
    * GPT-3/Pile long-n-gram-filter shape (GPT-3 used 13-grams): every
    * train doc sharing ≥ 3 distinct char-20-grams with the test set,
    * with the shared-gram count. Long grams make sharing MEANINGFUL
    * (8-grams match on common phrases — measured: every train doc shares
    * hundreds; 20-grams only on real duplication — 161/474 share any),
    * which is also what makes the Bloom prefilter bite: most train grams
    * miss the filter map-side inside codegen, and only the ~FPP-scaled
    * survivors reach the exact confirm join, which removes false
    * positives — the Bloom changes shuffled bytes, never the result.
    * Contrast q89 (rare-gram pair join, needs a full gram-df pass): this
    * form never computes document frequencies; its only shuffle is the
    * confirm join over prefiltered survivors — the shape that holds when
    * train is 100 TB and test is megabytes, since the filter is sized by
    * the TEST side (a scalar subquery broadcast like a dim table, never
    * collected into the plan by hand).
    */
  val q106BloomDecontaminate: Q = Q.sql(
    "q106_bloom_decontaminate",
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 100 < 5 AS is_test
      |  FROM documents
      |), sh0 AS (
      |  SELECT doc_id,
      |    unnest(list_distinct([substr(text, i, 20)
      |      for i in range(1, length(text) - 18)])) AS gram
      |  FROM documents WHERE length(text) >= 20
      |), sh AS (
      |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g
      |  FROM sh0
      |), te AS (
      |  SELECT DISTINCT g FROM sh JOIN h ON h.doc_id = sh.doc_id
      |  WHERE h.is_test
      |), tr AS (
      |  SELECT sh.doc_id AS train_doc, g FROM sh JOIN h ON h.doc_id = sh.doc_id
      |  WHERE NOT h.is_test
      |)
      |SELECT train_doc, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
      |FROM tr JOIN te USING (g)
      |GROUP BY 1
      |HAVING COUNT(*) >= 3""".stripMargin) { (s, dir) =>
    // r11: session-cached result frame (train_doc, n_shared_grams — O(hits),
    // ~4k rows at sf0.1). The full 20-gram explode + md5 pass ran THREE
    // times per bench session (this query, q116's corpus funnel, q128's
    // offline decontamination post-pass) at ~5 s each; the composition
    // sites reuse this one materialization, same discipline as
    // tfidf-weights / chargram-index.
    graft.SessionCache.once(s, s"text#$dir#bloom-decontam") {
      import graft.functions.Bloom
      val isTest =
        Text.baseHash(concat(lit("smp|"), col("doc_id").cast("string"))) % 100 < 5
      val sh = docs(s, dir)
        .filter(length(col("text")) >= 20)
        .select(col("doc_id"), isTest.as("is_test"),
          explode(Text.charShingles(col("text"), 20)).as("gram"))
        .select(col("doc_id"), col("is_test"), Text.baseHash(col("gram")).as("g"))
      val testG = sh.filter(col("is_test")).select("g").distinct()
      val bf = testG.agg(Bloom.filterAgg(col("g"), 1L << 20, 8L << 20)).scalar()
      val out = sh.filter(!col("is_test"))
        .select(col("doc_id").as("train_doc"), col("g"))
        .filter(Bloom.mightContain(bf, col("g")))
        .join(testG, Seq("g")) // exact confirm: Bloom FPs die here
        .groupBy("train_doc")
        // charShingles grams are per-doc distinct, so plain count is the
        // distinct shared-gram count
        .agg(count(lit(1)).as("n_shared_grams"))
        .filter(col("n_shared_grams") >= 3)
        .cache()
      out.count()
      out
    }
  }

  // ---------------------------------------------------------------- q107
  /** C4-style line-level corpus dedup (Raffel et al. '20 §2.2 — "we
    * discarded all but one of any three-sentence span occurring more
    * than once"): the corpus has no newlines, so the unit is the
    * non-overlapping 8-token segment. Every occurrence of a duplicated
    * segment EXCEPT the lexicographically first (doc_id, seg_idx) is
    * dropped; each doc is reassembled in original segment order with a
    * dropped-segment count. Exact-dup docs empty out entirely (their
    * every segment loses to the first copy) — the rule subsumes exact
    * dedup while ALSO stripping boilerplate from otherwise-unique docs.
    *
    * Scale shape: segment keys travel as 60-bit hashes, never strings;
    * the keeper pass is a partial-aggregatable min(struct) groupBy (no
    * corpus-wide window), the reassembly a per-doc sort of O(doc)
    * segments. Two equi-shuffles total — the unavoidable
    * corpus-frequency pass, same as C4's own.
    */
  val q107LineDedup: Q = Q.sql(
    "q107_line_dedup",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), seg AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
      |    array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg
      |  FROM t, UNNEST(range(0, 1 + (len(toks) - 1) // 8)) r(i)
      |), gt AS (
      |  SELECT doc_id, seg_idx, seg,
      |    ('0x' || substr(md5(seg), 1, 15))::BIGINT AS g
      |  FROM seg
      |), k AS (
      |  SELECT g, MIN((doc_id, seg_idx)) AS keeper FROM gt GROUP BY 1
      |)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN (doc_id, seg_idx) = keeper THEN 0 ELSE 1 END)
      |       AS BIGINT) AS n_dropped,
      |  coalesce(string_agg(CASE WHEN (doc_id, seg_idx) = keeper THEN seg END,
      |                      ' ' ORDER BY seg_idx), '') AS clean_text
      |FROM gt JOIN k USING (g)
      |GROUP BY doc_id""".stripMargin) { (s, dir) =>
    val segs = docs(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(0L, (size(toks) - 1) div 8),
            |  i -> concat_ws(' ', slice(toks, CAST(i * 8 + 1 AS INT), 8)))"""
            .stripMargin)).as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        col("seg"), Text.baseHash(col("seg")).as("g"))
    val keepers = segs.groupBy("g")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("keeper"))
    val isKeeper = struct(col("doc_id"), col("seg_idx")) === col("keeper")
    segs.join(keepers, Seq("g"))
      .groupBy("doc_id")
      .agg(
        sum(when(isKeeper, 0L).otherwise(1L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(isKeeper,
            struct(col("seg_idx"), col("seg"))))),
          x => x("seg"))).as("clean_text"))
  }

  // ---------------------------------------------------------------- q108
  /** Count-Min point-frequency accuracy harness (q95's sibling for the
    * frequency sketch): one `cms_counts` aggregate (depth 4 × width 256,
    * 8 KiB of state TOTAL for any corpus size) folds the whole event
    * stream; per-user estimates are then read from the one-row broadcast
    * sketch with plain Column arithmetic and compared against exact
    * counts. The CMS one-sided guarantee — estimate ≥ exact, over by
    * ≤ e/width · n w.h.p. — is visible in the emitted error column, and
    * because the hashes are the deterministic MinHash family, the DuckDB
    * oracle recomputes the IDENTICAL sketch as a 4-row × bucket GROUP BY.
    * The exact count here exists to measure the sketch (like q95's
    * recall); production at 100 TB runs the sketch INSTEAD of the
    * per-key groupBy. */
  val q108CmsFrequency: Q = Q.sql(
    "q108_cms_frequency",
    """WITH p(i, a, b) AS (
      |  VALUES (0, 1, 12345), (1, 3, 1012348), (2, 5, 2012351), (3, 7, 3012354)
      |), e AS (
      |  SELECT user_id, user_id % 2147483647 AS v FROM events
      |), cells AS (
      |  SELECT i, ((a * v + b) % 2147483647) % 256 AS bucket, COUNT(*) AS c
      |  FROM e CROSS JOIN p GROUP BY 1, 2
      |), keys AS (
      |  SELECT user_id, v, COUNT(*) AS n_exact FROM e GROUP BY 1, 2
      |)
      |SELECT k.user_id, CAST(k.n_exact AS BIGINT) AS n_exact,
      |  CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
      |  CAST(MIN(c.c) - k.n_exact AS BIGINT) AS overcount
      |FROM keys k
      |JOIN p ON TRUE
      |JOIN cells c
      |  ON c.i = p.i AND c.bucket = ((p.a * k.v + p.b) % 2147483647) % 256
      |GROUP BY k.user_id, k.n_exact""".stripMargin) { (s, dir) =>
    import graft.functions.CmsCounts
    val ev = Tables(s, dir, "events").select(col("user_id"))
    val sketch = ev.agg(CmsCounts.counts(col("user_id"), 4, 256).as("cms"))
    val est = CmsCounts.estimate(col("cms"), col("user_id"), 4, 256)
    ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sketch))
      .select(col("user_id"), col("n_exact"),
        est.as("cms_estimate"),
        (est - col("n_exact")).as("overcount"))
  }

  // ---------------------------------------------------------------- q109
  /** All-pairs document cosine similarity over TF-IDF vectors (the
    * Bayardo et al. '07 APSS shape): every document pair whose tf-idf
    * cosine is ≥ 0.5, found through an inverted index — never an
    * all-pairs scan. The vector space is word TRIGRAMS with
    * multiplicity, not unigrams: the synthetic corpus draws from a
    * 31-word vocabulary, so every unigram is a stop word (df ≈ N),
    * while the ~27k trigrams discriminate — the same reason q23
    * shingles before indexing. Grams travel as 60-bit hashes (q23/q89
    * discipline: no strings cross a shuffle), and grams with df > 100
    * are cut from the space — the heavy-hitter rule that bounds
    * candidate fan-out at df²/2 per gram AND drops near-zero-idf noise.
    * df = 1 grams stay in the norms but can never reach a pair —
    * exactly TF-IDF semantics on the pruned space.
    *
    * Weights are `tf / df`, not `tf · N/df`: cosine is invariant under
    * scaling a vector by a constant, and every component shares the
    * factor N — dropping it removes the N-row broadcast AND keeps the
    * partial products small enough that the order-independent
    * DECIMAL(28,10) accumulators can never overflow. sqrt is
    * IEEE-correctly-rounded on both engines (unlike log/pow), so
    * `dot / sqrt(n2a) / sqrt(n2b)` in that exact op order hash-matches.
    *
    * Scale shape: tf and df are partial-agg groupBys; candidate pairs
    * come from the df-bounded gram equi-join aggregated by
    * (doc_a, doc_b) — one equi-shuffle; norms join back per-doc.
    * Nothing is quadratic in the corpus. */
  val q109CosinePairs: Q = Q.sql(
    "q109_cosine_pairs",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), gr AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(
      |       list_extract(toks, CAST(i AS INT)) || ' ' ||
      |       list_extract(toks, CAST(i AS INT) + 1) || ' ' ||
      |       list_extract(toks, CAST(i AS INT) + 2)), 1, 15))::BIGINT AS g
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) r
      |  WHERE len(toks) >= 3
      |), tf AS (
      |  SELECT doc_id, g, COUNT(*) AS tf FROM gr GROUP BY 1, 2
      |), df AS (
      |  SELECT g, COUNT(*) AS df FROM tf GROUP BY 1
      |), w AS (
      |  SELECT tf.doc_id, tf.g, CAST(tf.tf AS DOUBLE) / df.df AS w
      |  FROM tf JOIN df USING (g) WHERE df.df <= 100
      |), nrm AS (
      |  SELECT doc_id, CAST(SUM(CAST(w * w AS DECIMAL(28,10))) AS DOUBLE) AS n2
      |  FROM w GROUP BY 1
      |), p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared,
      |    CAST(SUM(CAST(a.w * b.w AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |  FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, n_shared, dot,
      |  dot / sqrt(na.n2) / sqrt(nb.n2) AS cosine
      |FROM p
      |JOIN nrm na ON p.doc_a = na.doc_id
      |JOIN nrm nb ON p.doc_b = nb.doc_id
      |WHERE dot / sqrt(na.n2) / sqrt(nb.n2) >= 0.5""".stripMargin,
    "All-pairs TF-IDF cosine ≥ 0.5 via the trigram inverted index — APSS without an all-pairs scan") {
    (s, dir) =>
      // `toks` is materialized in its own projection BEFORE the gram
      // transform: inlining the split into the lambda re-evaluates it per
      // element under Generate (the HOF-recompute trap — measured 5.5 s
      // vs 0.4 s on this stage at sf0.1).
      val tk = col("toks")
      val grams = when(size(tk) >= 3,
        transform(sequence(lit(1), size(tk) - 2),
          i => concat_ws(" ", element_at(tk, i), element_at(tk, i + lit(1)),
            element_at(tk, i + lit(2)))))
        .otherwise(array().cast("array<string>"))
      // Referenced from THREE plan branches (norms + both join sides) —
      // session-cached so the tokenize/hash/tf/df lineage runs once.
      val wts = graft.SessionCache.once(s, s"text#$dir#tfidf-weights") {
        val tf = docs(s, dir)
          .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
          .select(col("doc_id"), explode(grams).as("gram"))
          .select(col("doc_id"), Text.baseHash(col("gram")).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
        val dfTbl = tf.groupBy("g").agg(count(lit(1)).as("df"))
        val w = tf.join(dfTbl, Seq("g"))
          .filter(col("df") <= 100)
          .select(col("doc_id"), col("g"),
            (col("tf").cast("double") / col("df")).as("w"))
          .cache()
        w.count()
        w
      }
      val norms = wts.groupBy("doc_id")
        .agg(sum((col("w") * col("w")).cast("decimal(28,10)"))
          .cast("double").as("n2"))
      // EXPLICIT-count repartition before the pair join: the join is
      // explosive (output ≈ df-bound × input, not input-sized), so AQE's
      // input-size-based coalescing of the small cached frame serializes
      // exactly the stage that needs fan-out — measured at the 10×
      // blow-up (graft.tools.ScaleUp fixture): 146 s coalesced vs 47 s
      // with the join parallelism pinned, restoring the sublinear
      // scaling the 1×→10× table in BASELINE.md records. An explicit
      // numPartitions is exempt from AQE coalescing by contract, which
      // is the point.
      val np = s.conf.get("spark.sql.shuffle.partitions").toInt
      val wj = wts.repartition(np, col("g"))
      val pairs = wj.as("a")
        .join(wj.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).cast("long").as("n_shared"),
          sum((col("a.w") * col("b.w")).cast("decimal(28,10)"))
            .cast("double").as("dot"))
      val cosine = col("dot") / sqrt(col("na.n2")) / sqrt(col("nb.n2"))
      pairs
        .join(norms.as("na"), col("doc_a") === col("na.doc_id"))
        .join(norms.as("nb"), col("doc_b") === col("nb.doc_id"))
        .filter(cosine >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("dot"),
          cosine.as("cosine"))
  }

  // ---------------------------------------------------------------- q110
  /** Hashed n-gram importance scoring for data selection (the DSIR
    * shape, Xie et al. '23: score each document by how target-like its
    * hashed feature distribution is, then keep the target-like ones).
    * Features are word unigrams hashed into 1024 buckets; the target
    * distribution is the English sub-corpus, the source is the whole
    * corpus; both get Laplace +1 smoothing. A document's score is the
    * mean per-token probability ratio p_target(f)/p_source(f), and
    * `selected` flags docs scoring ≥ 1 (more target-like than average).
    *
    * DSIR proper scores with SUMMED LOG-ratios; engines disagree on
    * log's last ulp (the q79 raw-ratio-idf precedent), so this uses the
    * mean RAW ratio — a monotone-in-spirit, deterministic stand-in whose
    * substitution is the documented price of the cross-engine gate.
    *
    * Scale shape: the "trained model" is the 1024-row bucket-ratio
    * frame — built by one partial-agg groupBy over token buckets that
    * counts source and target together, with the totals as global
    * window sums over those ≤ 1024 rows — then itself BROADCAST
    * against the token stream (model state never touches the driver).
    * Scoring is one per-doc partial-agg groupBy. At 100 TB the model is
    * still 1024 rows: the corpus passes stay embarrassingly parallel. */
  val q110ImportanceScore: Q = Q.sql(
    "q110_importance_score",
    """WITH tk AS (
      |  SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(lower(t)), 1, 15))::BIGINT % 1024 AS f
      |  FROM tk WHERE length(t) > 0
      |), src AS (
      |  SELECT f, COUNT(*) AS cnt_s FROM toks GROUP BY 1
      |), tgt AS (
      |  SELECT f, COUNT(*) AS cnt_t FROM toks WHERE lang = 'en' GROUP BY 1
      |), tot AS (
      |  SELECT COUNT(*) AS n_s,
      |         COUNT(*) FILTER (WHERE lang = 'en') AS n_t
      |  FROM toks
      |), r AS (
      |  SELECT s.f,
      |    CAST(coalesce(t.cnt_t, 0) + 1 AS DOUBLE)
      |      / (tot.n_t + 1024) * (tot.n_s + 1024) / (s.cnt_s + 1) AS r
      |  FROM src s LEFT JOIN tgt t USING (f) CROSS JOIN tot
      |), sc AS (
      |  SELECT k.doc_id, k.lang, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |    CAST(SUM(CAST(r.r AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS score
      |  FROM toks k JOIN r USING (f)
      |  GROUP BY 1, 2
      |)
      |SELECT doc_id, lang, n_toks, score, score >= 1.0 AS selected
      |FROM sc""".stripMargin,
    "DSIR-shaped importance scoring: hashed-unigram target/source ratio model, broadcast to the corpus") {
    (s, dir) =>
      val toks = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(Text.tokens(col("text"))).as("t"))
        .filter(length(col("t")) > 0)
        .select(col("doc_id"), col("lang"),
          (Text.baseHash(lower(col("t"))) % 1024).as("f"))
      // one corpus pass counts both distributions per bucket; the
      // totals are window sums over those ≤ 1024 bucket rows
      val all = Window.partitionBy()
      val ratio = toks.groupBy("f")
        .agg(count(lit(1)).as("cnt_s"),
          count(when(col("lang") === "en", lit(1))).as("cnt_t"))
        .select(col("f"),
          ((col("cnt_t") + 1).cast("double")
            / (sum(col("cnt_t")).over(all) + 1024)
            * (sum(col("cnt_s")).over(all) + 1024)
            / (col("cnt_s") + 1)).as("r"))
      toks.join(broadcast(ratio), Seq("f"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).cast("long").as("n_toks"),
          (sum(col("r").cast("decimal(28,10)")).cast("double")
            / count(lit(1))).as("score"))
        .select(col("doc_id"), col("lang"), col("n_toks"), col("score"),
          (col("score") >= 1.0).as("selected"))
  }

  // ---------------------------------------------------------------- q113
  /** One BPE-trainer merge step (Sennrich et al. '16): corpus-wide
    * frequencies of ADJACENT BPE-token pairs, ranked, with the running
    * coverage fraction — rank 1 is the merge the trainer would perform
    * next, and the coverage curve is how a vocab-size budget is chosen.
    * Output is the top 200 merge candidates.
    *
    * Scale shape: the corpus pass is one partial-agg groupBy on the
    * pair (the histogram is vocab²-bounded, NOT corpus-sized); the
    * rank/cumsum window then runs over that bounded histogram only —
    * the q94b discipline: a Window may be global precisely because its
    * input is an aggregate, never the corpus. Pair arrays are built
    * from a materialized token array (the q109 HOF-recompute lesson). */
  val q113BpeMergeRank: Q = Q.sql(
    "q113_bpe_merge_rank",
    """WITH b AS (
      |  SELECT regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t
      |  FROM documents
      |), p AS (
      |  SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS pair
      |  FROM b, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
      |  WHERE len(t) >= 2
      |), h AS (
      |  SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1
      |), tot AS (
      |  SELECT SUM(cnt) AS total FROM h
      |), r AS (
      |  SELECT pair, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, pair) AS rnk,
      |    SUM(cnt) OVER (ORDER BY cnt DESC, pair
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM h
      |)
      |SELECT pair, cnt, CAST(rnk AS BIGINT) AS rnk,
      |  CAST(cum AS DOUBLE) / total AS cum_frac
      |FROM r CROSS JOIN tot
      |WHERE rnk <= 200""".stripMargin,
    "BPE merge-candidate ranking: adjacent-pair histogram with running coverage") {
    (s, dir) =>
      val b = col("bt")
      val pairGrams = when(size(b) >= 2,
        transform(sequence(lit(1), size(b) - 1),
          i => concat_ws(" ", element_at(b, i), element_at(b, i + lit(1)))))
        .otherwise(array().cast("array<string>"))
      val h = docs(s, dir)
        .select(Text.bpeTokens(col("text")).as("bt"))
        .select(explode(pairGrams).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
      val tot = h.agg(sum(col("cnt")).as("total"))
      val w = Window.orderBy(col("cnt").desc, col("pair"))
      val wsum = Window.orderBy(col("cnt").desc, col("pair"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("rnk", row_number().over(w))
        .withColumn("cum", sum(col("cnt")).over(wsum))
        .filter(col("rnk") <= 200)
        .crossJoin(broadcast(tot))
        .select(col("pair"), col("cnt"), col("rnk").cast("long").as("rnk"),
          (col("cum").cast("double") / col("total")).as("cum_frac"))
  }

  // ---------------------------------------------------------------- q116
  /** The end-to-end corpus build — the one-pipeline artifact a data team
    * ships, chaining the individually-gated stages into a sharded
    * training corpus with a per-shard manifest:
    *
    *   1. quality gate     — q20's length/punct rule AND NOT q88's
    *                         repetition rule;
    *   2. line-level dedup — q107's C4 segment dedup; a doc survives with
    *                         its cleaned token count (exact dups empty
    *                         out here);
    *   3. near-dup removal — one representative per q29 MinHash-LSH
    *                         cluster;
    *   4. decontamination  — drop held-out test docs and any train doc
    *                         q106's 20-gram rule flags (Bloom-prefiltered
    *                         on the Spark side; the Bloom never changes
    *                         the result, so the oracle joins exactly);
    *   5. shard + pack     — q93's md5 hash-shard, then q87's 4096-token
    *                         chunk math WITHIN each shard (shard-then-
    *                         pack is the scalable order: shards are the
    *                         unit of parallelism, packing never needs a
    *                         cross-shard window).
    *
    * Output: one manifest row per shard (n_docs, n_tokens, n_chunks)
    * plus the corpus-level funnel counts every row carries (n_input →
    * n_pass_quality → n_pass_linededup → n_pass_neardup →
    * n_pass_decontam) — the survivor/drop accounting a curation run has
    * to emit.
    *
    * Scale shape: every stage is the already-audited operator it reuses;
    * the composition itself adds only doc_id equi-joins (one
    * co-partitioning key end-to-end), a single 1-row funnel-totals
    * broadcast, and the final hash(shard) groupBy. No new join keys, no
    * windows, nothing corpus-quadratic beyond what the stages already
    * bound (LSH band keys, df-cut grams, Bloom survivors). */
  /** Shared CTE prefix: everything through the per-document funnel frame
    * `fu` (doc_id, lang, source, n_clean_tokens, b1..b4) — reused
    * VERBATIM by q116 (shard manifest), q119 (per-source ledger) and
    * q120 (mixture weights), exactly as the Spark side shares one
    * session-cached funnel frame. */
  private val corpusFunnelCtes: String =
    s"""WITH RECURSIVE $clustersSql,
       |qx AS (
       |  SELECT doc_id,
       |    CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 5
       |          AND length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 5 <= length(text)
       |         THEN 1 ELSE 0 END AS quality
       |  FROM documents
       |), rg AS (
       |  SELECT doc_id,
       |    list_extract(toks, CAST(i AS INT)) || ' ' ||
       |      list_extract(toks, CAST(i AS INT) + 1) AS gram
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |        FROM documents) t0,
       |       LATERAL (SELECT unnest(range(1, len(toks))) AS i) rr
       |  WHERE len(toks) >= 2
       |), rc AS (
       |  SELECT doc_id, gram, COUNT(*) AS n FROM rg GROUP BY 1, 2
       |), ra AS (
       |  SELECT doc_id, SUM(n) AS n_grams, MAX(n) AS max_gram FROM rc GROUP BY 1
       |), rp AS (
       |  SELECT d.doc_id,
       |    CASE WHEN a.n_grams IS NULL THEN FALSE
       |         ELSE CAST(a.max_gram AS DOUBLE) / a.n_grams > 0.1 END AS repetitive
       |  FROM documents d LEFT JOIN ra a ON a.doc_id = d.doc_id
       |), sgh AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
       |    array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg,
       |    ('0x' || substr(md5(array_to_string(toks[i*8+1 : i*8+8], ' ')), 1, 15))::BIGINT AS g
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |        FROM documents) t1,
       |       UNNEST(range(0, 1 + (len(toks) - 1) // 8)) r2(i)
       |), kp AS (
       |  SELECT g, MIN((doc_id, seg_idx)) AS keeper FROM sgh GROUP BY 1
       |), cl AS (
       |  SELECT doc_id,
       |    coalesce(string_agg(CASE WHEN (doc_id, seg_idx) = keeper THEN seg END,
       |                        ' ' ORDER BY seg_idx), '') AS clean_text
       |  FROM sgh JOIN kp USING (g)
       |  GROUP BY doc_id
       |), ct AS (
       |  SELECT doc_id,
       |    CASE WHEN clean_text = '' THEN CAST(0 AS BIGINT)
       |         ELSE CAST(len(string_split_regex(trim(clean_text), '\\s+')) AS BIGINT)
       |    END AS n_clean_tokens
       |  FROM cl
       |), hh AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 100 < 5 AS is_test
       |  FROM documents
       |), g20 AS (
       |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct([substr(text, i, 20)
       |            for i in range(1, length(text) - 18)])) AS gram
       |        FROM documents WHERE length(text) >= 20)
       |), te AS (
       |  SELECT DISTINCT g FROM g20 JOIN hh USING (doc_id) WHERE hh.is_test
       |), tr AS (
       |  SELECT g20.doc_id AS train_doc, g FROM g20 JOIN hh USING (doc_id)
       |  WHERE NOT hh.is_test
       |), bad AS (
       |  SELECT train_doc FROM tr JOIN te USING (g)
       |  GROUP BY 1 HAVING COUNT(*) >= 3
       |), fu AS (
       |  SELECT d.doc_id, d.lang, d.source, ct.n_clean_tokens,
       |    (qx.quality = 1 AND NOT rp.repetitive) AS b1,
       |    (qx.quality = 1 AND NOT rp.repetitive AND ct.n_clean_tokens > 0) AS b2,
       |    (qx.quality = 1 AND NOT rp.repetitive AND ct.n_clean_tokens > 0
       |      AND comp.cluster_id = d.doc_id) AS b3,
       |    (qx.quality = 1 AND NOT rp.repetitive AND ct.n_clean_tokens > 0
       |      AND comp.cluster_id = d.doc_id AND NOT hh.is_test
       |      AND bad.train_doc IS NULL) AS b4
       |  FROM documents d
       |  JOIN qx USING (doc_id)
       |  JOIN rp USING (doc_id)
       |  JOIN ct USING (doc_id)
       |  JOIN comp USING (doc_id)
       |  JOIN hh USING (doc_id)
       |  LEFT JOIN bad ON bad.train_doc = d.doc_id
       |)""".stripMargin

  /** The per-document curation funnel (doc_id, lang, source,
    * n_clean_tokens, b1..b4 stage-survival flags), session-cached and
    * eagerly materialized: q116's manifest, q119's per-source ledger and
    * q120's mixture weights are all cheap aggregations over this one
    * frame — uncached, each would re-run the full dedup/decontaminate
    * lineage (GraphX CC included). */
  private def corpusFunnel(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"text#$dir#corpus-funnel") {
      val toks = Text.tokens(col("text"))
      val nPunct = length(regexp_replace(col("text"), "[^.,!?;:]", ""))
      val isTest =
        Text.baseHash(concat(lit("smp|"), col("doc_id").cast("string"))) % 100 < 5
      val base = docs(s, dir).select(
        col("doc_id"), col("lang"), col("source"), isTest.as("is_test"),
        when(size(toks) >= 5 && nPunct * 5 <= length(col("text")), 1L)
          .otherwise(0L).as("quality"))
      val rept = q88Repetition.run(s, dir).select(col("doc_id"), col("repetitive"))
      val line = q107LineDedup.run(s, dir).select(col("doc_id"),
        when(col("clean_text") === "", 0L)
          .otherwise(size(Text.tokens(col("clean_text"))).cast("long"))
          .as("n_clean_tokens"))
      val reps = dedupClusters(s, dir).select(col("doc_id"), col("cluster_id"))
      val bad = q106BloomDecontaminate.run(s, dir)
        .select(col("train_doc").as("doc_id"), lit(true).as("contaminated"))
      val b1 = col("quality") === 1 && !col("repetitive")
      val b2 = b1 && col("n_clean_tokens") > 0
      val b3 = b2 && col("cluster_id") === col("doc_id")
      val b4 = b3 && !col("is_test") && col("contaminated").isNull
      val fu = base
        .join(rept, Seq("doc_id"))
        .join(line, Seq("doc_id"))
        .join(reps, Seq("doc_id"))
        .join(bad, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_clean_tokens"),
          b1.as("b1"), b2.as("b2"), b3.as("b3"), b4.as("b4"))
        .cache()
      fu.count()
      fu
    }

  val q116CorpusBuild: Q = Q.sql(
    "q116_corpus_build",
    s"""$corpusFunnelCtes,
       |gl AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
       |    CAST(SUM(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
       |    CAST(SUM(CASE WHEN b2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_linededup,
       |    CAST(SUM(CASE WHEN b3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_neardup,
       |    CAST(SUM(CASE WHEN b4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_decontam
       |  FROM fu
       |), sv AS (
       |  SELECT doc_id, n_clean_tokens,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 32 AS shard
       |  FROM fu WHERE b4
       |), mf AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_clean_tokens) AS BIGINT) AS n_tokens
       |  FROM sv GROUP BY 1
       |)
       |SELECT mf.shard, mf.n_docs, mf.n_tokens,
       |  CAST((mf.n_tokens - 1) // 4096 + 1 AS BIGINT) AS n_chunks,
       |  gl.n_input, gl.n_pass_quality, gl.n_pass_linededup,
       |  gl.n_pass_neardup, gl.n_pass_decontam
       |FROM mf CROSS JOIN gl""".stripMargin,
    "End-to-end corpus build: quality → line dedup → LSH reps → decontaminate → shard manifest") {
    (s, dir) =>
      val fu = corpusFunnel(s, dir)
      val gl = fu.agg(
        count(lit(1)).cast("long").as("n_input"),
        sum(when(col("b1"), 1L).otherwise(0L)).cast("long").as("n_pass_quality"),
        sum(when(col("b2"), 1L).otherwise(0L)).cast("long").as("n_pass_linededup"),
        sum(when(col("b3"), 1L).otherwise(0L)).cast("long").as("n_pass_neardup"),
        sum(when(col("b4"), 1L).otherwise(0L)).cast("long").as("n_pass_decontam"))
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
      fu.filter(col("b4"))
        .select(col("doc_id"), col("n_clean_tokens"), (h % 32).as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_clean_tokens")).cast("long").as("n_tokens"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          (expr("(n_tokens - 1) div 4096") + 1).cast("long").as("n_chunks"))
        .crossJoin(broadcast(gl))
  }

  // ---------------------------------------------------------------- q119
  /** The curation ledger by provenance — q116's funnel re-aggregated per
    * (lang, source): how many of each supplier's documents enter, and
    * how many survive each stage (quality, line dedup, near-dup removal,
    * decontamination), plus the tokens the clean corpus keeps from them.
    * This is the data-governance view a curation run owes its suppliers:
    * "your feed lost 40% at the quality gate and another 20% to
    * duplication against supplier X". Scale shape: one partial-agg
    * groupBy over the session-cached funnel frame — the expensive stages
    * run once for q116/q119/q120 together. */
  val q119CurationBySource: Q = Q.sql(
    "q119_curation_by_source",
    s"""$corpusFunnelCtes
       |SELECT lang, source,
       |  CAST(COUNT(*) AS BIGINT) AS n_input,
       |  CAST(SUM(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
       |  CAST(SUM(CASE WHEN b2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_linededup,
       |  CAST(SUM(CASE WHEN b3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_neardup,
       |  CAST(SUM(CASE WHEN b4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_decontam,
       |  CAST(SUM(CASE WHEN b4 THEN n_clean_tokens ELSE 0 END) AS BIGINT)
       |    AS tokens_kept
       |FROM fu
       |GROUP BY 1, 2""".stripMargin,
    "per-(lang, source) curation ledger: stage survival + tokens kept") {
    (s, dir) =>
      corpusFunnel(s, dir)
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).cast("long").as("n_input"),
          sum(when(col("b1"), 1L).otherwise(0L)).cast("long").as("n_pass_quality"),
          sum(when(col("b2"), 1L).otherwise(0L)).cast("long").as("n_pass_linededup"),
          sum(when(col("b3"), 1L).otherwise(0L)).cast("long").as("n_pass_neardup"),
          sum(when(col("b4"), 1L).otherwise(0L)).cast("long").as("n_pass_decontam"),
          sum(when(col("b4"), col("n_clean_tokens")).otherwise(0L)).cast("long")
            .as("tokens_kept"))
  }

  // ---------------------------------------------------------------- q120
  /** Temperature-scaled language mixture over the CLEAN corpus — the
    * pre-training data-mixing step (multinomial sampling à la mBERT/XLM:
    * weight ∝ n_tokens^(1/T)): per language, the q116-surviving token
    * mass, its temperature-T=2 weight `sqrt(n_tokens)` (sqrt, not pow —
    * IEEE requires sqrt correctly rounded, so both engines agree
    * bit-for-bit; a pow(x, 0.7) would not be portable), the normalized
    * sampling share, and the document draw a 10k-doc epoch would take.
    * Upsampling low-resource languages while damping the head is exactly
    * what the temperature does — visible here as share > raw token
    * share for every non-English row.
    *
    * Determinism: the share denominator is a DECIMAL(28,10) sum of the
    * per-lang weights (exact, order-independent) cast back to double —
    * the [[graft.Q]] double-sum rule; per-row sqrt/divide stay raw.
    * Scale shape: a partial-agg groupBy to ≤#langs rows, then a 1-row
    * totals broadcast — corpus scale never touches the mixture math. */
  val q120MixtureWeights: Q = Q.sql(
    "q120_mixture_weights",
    s"""$corpusFunnelCtes,
       |lt AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_clean_tokens) AS BIGINT) AS n_tokens
       |  FROM fu WHERE b4 GROUP BY 1
       |), wt AS (
       |  SELECT lang, n_docs, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS w
       |  FROM lt
       |), tot AS (
       |  SELECT CAST(SUM(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS sw FROM wt
       |)
       |SELECT lang, n_docs, n_tokens, w,
       |  w / sw AS share,
       |  w / sw * 10000 AS epoch_docs
       |FROM wt CROSS JOIN tot""".stripMargin,
    "temperature-2 language mixture weights over the clean corpus") {
    (s, dir) =>
      val lt = corpusFunnel(s, dir)
        .filter(col("b4"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_clean_tokens")).cast("long").as("n_tokens"))
        .withColumn("w", sqrt(col("n_tokens").cast("double")))
      val tot = lt.agg(
        sum(col("w").cast("decimal(28,10)")).cast("double").as("sw"))
      lt.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("w"),
          (col("w") / col("sw")).as("share"),
          (col("w") / col("sw") * 10000).as("epoch_docs"))
  }

  // ---------------------------------------------------------------- q132
  /** Typo-pair fuzzy join via deletion neighborhoods (the FastSS
    * family, Bocek et al. '07) — the vocabulary-normalization step of a
    * corpus cleaner: every pair of distinct tokens within edit distance
    * 2, found WITHOUT an all-pairs scan. Each token generates its
    * 0/1/2-deletion variants; an edit script of cost <= 2 deletes at
    * most 2 positions from each side to reach a common string, so two
    * tokens within distance 2 always share a variant — candidates come
    * from an equi-join on the variant string, and a `levenshtein <= 2`
    * check removes the farther survivors the neighborhood also admits.
    * The higher-df token is emitted as the canonical form (lexicographic
    * min on ties) — the map a cleaner applies to fold rare misspellings
    * into their frequent neighbor.
    *
    * Scale shape: the join runs over the VOCABULARY (distinct tokens,
    * sublinear in corpus size), reached through one partial-agg
    * groupBy; variants multiply it by ~(len² / 2), and the equi-join
    * keeps candidate generation bucketed exactly like the shingle /
    * band / cell joins of the dedup family — never token-universe x
    * token-universe. Candidate pairs can share several variants, so
    * the pairs are dedup'd before the verify. */
  val q132TypoPairs: Q = Q.sql(
    "q132_typo_pairs",
    """WITH vocab AS (
      |  SELECT token, COUNT(*) AS df
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |        FROM documents)
      |  GROUP BY 1
      |), vars AS (
      |  SELECT token, df, l2.v
      |  FROM vocab,
      |       UNNEST(range(0, length(token) + 1)) ri(i),
      |       UNNEST(range(0, length(token) + 1)) rj(j),
      |       LATERAL (SELECT CASE WHEN j = 0 THEN token
      |         ELSE substr(token, 1, CAST(j - 1 AS INT)) || substr(token, CAST(j + 1 AS INT), 100000)
      |         END AS t1) l1,
      |       LATERAL (SELECT CASE WHEN i = 0 THEN l1.t1
      |         ELSE substr(l1.t1, 1, CAST(i - 1 AS INT)) || substr(l1.t1, CAST(i + 1 AS INT), 100000)
      |         END AS v) l2
      |  WHERE i <= j AND (i <> j OR i = 0)
      |), cand AS (
      |  SELECT DISTINCT a.token AS t1, a.df AS df1, b.token AS t2, b.df AS df2
      |  FROM vars a JOIN vars b ON a.v = b.v AND a.token < b.token
      |)
      |SELECT t1, t2, CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2,
      |  CAST(levenshtein(t1, t2) AS BIGINT) AS dist,
      |  CASE WHEN df1 > df2 THEN t1 WHEN df2 > df1 THEN t2 ELSE t1 END
      |    AS canonical
      |FROM cand WHERE levenshtein(t1, t2) <= 2""".stripMargin,
    "edit-distance<=2 token pairs via delete-2 neighborhood join (FastSS)") {
    (s, dir) =>
      val vocab = docs(s, dir)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      // delete position p (1-based) from t; p = 0 leaves t unchanged
      def delAt(t: Column, p: Column): Column =
        when(p === 0, t).otherwise(
          concat(t.substr(lit(1), p - 1), t.substr(p + 1, length(t))))
      val vars = vocab
        .select(col("token"), col("df"),
          explode(sequence(lit(0), length(col("token")))).as("i"))
        .select(col("token"), col("df"), col("i"),
          explode(sequence(lit(0), length(col("token")))).as("j"))
        .filter(col("i") <= col("j") && (col("i") =!= col("j") || col("i") === 0))
        // delete j (the higher position) first so i's index is unshifted
        .select(col("token"), col("df"),
          delAt(delAt(col("token"), col("j")), col("i")).as("v"))
      vars.as("a")
        .join(vars.as("b"),
          col("a.v") === col("b.v") && col("a.token") < col("b.token"))
        .select(col("a.token").as("t1"), col("b.token").as("t2"),
          col("a.df").as("df1"), col("b.df").as("df2"))
        .distinct()
        .filter(levenshtein(col("t1"), col("t2")) <= 2)
        .select(col("t1"), col("t2"), col("df1"), col("df2"),
          levenshtein(col("t1"), col("t2")).cast("long").as("dist"),
          when(col("df1") > col("df2"), col("t1"))
            .when(col("df2") > col("df1"), col("t2"))
            .otherwise(col("t1")).as("canonical"))
  }

  // ---------------------------------------------------------------- q135
  /** Collocation (phrase) mining by lift — adjacent token pairs that
    * co-occur far above chance, the phrase-detection step of corpus
    * analysis (word2vec's phrase pass, Mikolov '13, uses exactly this
    * count form). lift = p(w1 w2) / (p(w1) p(w2)) — PMI without the
    * log, the q79/q110 transcendental-free substitution that keeps the
    * ranking identical (log is monotone) and the doubles bit-identical
    * across engines: every factor is an exact integer count divided
    * through the same expression tree. min-count 5, global top-50.
    *
    * Scale shape: bigram and unigram histograms are partial-agg
    * groupBys; the unigram joins are vocabulary-sized equi-joins (left
    * to AQE — vocab can be millions of rows at corpus scale, not a
    * forced broadcast); the two totals ride 1-row broadcasts; the
    * final rank's single-partition window sees only the min-count-cut
    * bigram histogram (q113's bounded-input window discipline). */
  val q135Collocations: Q = Q.sql(
    "q135_collocations",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), u AS (
      |  SELECT unnest(toks) AS w FROM t
      |), uc AS (
      |  SELECT w, COUNT(*) AS c FROM u GROUP BY 1
      |), n1 AS (
      |  SELECT COUNT(*) AS n_tok FROM u
      |), g AS (
      |  SELECT list_extract(toks, CAST(i AS INT)) AS w1,
      |         list_extract(toks, CAST(i AS INT) + 1) AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
      |  WHERE len(toks) >= 2
      |), gc AS (
      |  SELECT w1, w2, COUNT(*) AS nab FROM g GROUP BY 1, 2
      |), nbt AS (
      |  SELECT COUNT(*) AS n_big FROM g
      |), j AS (
      |  SELECT gc.w1, gc.w2, gc.nab, a.c AS na, b.c AS nb,
      |    (CAST(gc.nab AS DOUBLE) / n_big)
      |      / ((CAST(a.c AS DOUBLE) / n_tok) * (CAST(b.c AS DOUBLE) / n_tok))
      |      AS lift
      |  FROM gc JOIN uc a ON a.w = gc.w1 JOIN uc b ON b.w = gc.w2, n1, nbt
      |  WHERE gc.nab >= 5
      |)
      |SELECT w1, w2, CAST(nab AS BIGINT) AS nab, CAST(na AS BIGINT) AS na,
      |  CAST(nb AS BIGINT) AS nb, lift, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rnk
      |      FROM j)
      |WHERE rnk <= 50""".stripMargin,
    "collocations: adjacent pairs ranked by lift (PMI sans log), top 50") {
    (s, dir) =>
      // tokens materialized in their OWN projection before any lambda
      // touches them — element_at inside transform would otherwise
      // re-run the tokenizer per bigram (the HOF-recompute trap,
      // measured 15x on q109 and 7x here)
      val tks = docs(s, dir).select(Text.tokens(col("text")).as("toks"))
      val pairs = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + lit(1)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val bg = tks.select(explode(pairs).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val gc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 5)
      val uni = tks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nTok = uni.agg(sum(col("c")).cast("long").as("n_tok"))
      val nBig = bg.groupBy().agg(count(lit(1)).as("n_big"))
      val wr = Window.orderBy(col("lift").desc, col("w1"), col("w2"))
      gc
        .join(uni.select(col("w").as("w1"), col("c").as("na")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("nb")), Seq("w2"))
        .crossJoin(broadcast(nTok))
        .crossJoin(broadcast(nBig))
        .select(col("w1"), col("w2"), col("nab"), col("na"), col("nb"),
          ((col("nab").cast("double") / col("n_big"))
            / ((col("na").cast("double") / col("n_tok"))
              * (col("nb").cast("double") / col("n_tok")))).as("lift"))
        .withColumn("rnk", row_number().over(wr).cast("long"))
        .filter(col("rnk") <= 50)
  }

  // ---------------------------------------------------------------- q136
  /** Sensitive-term redaction — the PII-scrub stage of a corpus build as
    * a pure map: one anchored regex pass masks every blocklisted term
    * (word-boundary `\b`, a pattern class Java regex and RE2 agree on)
    * and counts the hits. Zero shuffles — embarrassingly parallel, the
    * only acceptable shape for a full-corpus rewrite at 100 TB. Real
    * deployments swap the term alternation for e-mail/phone/IP patterns;
    * the operator (match-count + global replace in one scan) is
    * identical. */
  val q136Redact: Q = {
    val pat = "\\b(customer|key|value)\\b"
    Q.sql(
      "q136_redact",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_masked,
         |  regexp_replace(text, '$pat', '[MASKED]', 'g') AS redacted,
         |  CAST(length(regexp_replace(text, '$pat', '[MASKED]', 'g')) AS BIGINT)
         |    AS redacted_chars
         |FROM documents""".stripMargin,
      "blocklist redaction: global masked rewrite + hit count in one scan") {
      (s, dir) =>
        val red = regexp_replace(col("text"), pat, "[MASKED]")
        docs(s, dir).select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("long").as("n_masked"),
          red.as("redacted"),
          length(red).cast("long").as("redacted_chars"))
    }
  }

  // ---------------------------------------------------------------- q140
  /** Vocabulary coverage / OOV rate — the tokenizer-evaluation pass of a
    * training pipeline: the corpus's top-200 tokens (deterministic
    * (count DESC, token) order) become the vocab; every document then
    * reports how much of its token mass falls outside it. The top-k is
    * `ORDER BY ... LIMIT` — TakeOrderedAndProject over the partial-agg'd
    * token histogram, never a global rank window — and flows back as a
    * broadcast to a map-side membership join. Two shuffles total (tf
    * groupBy, per-doc roll-up), both partial-agg. */
  val q140OovRate: Q = Q.sql(
    "q140_oov_rate",
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, lower(t) AS term FROM tk WHERE length(t) > 0
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      |), vocab AS (
      |  SELECT term FROM (
      |    SELECT term, SUM(tf) AS n FROM tf GROUP BY 1
      |    ORDER BY n DESC, term LIMIT 200)
      |)
      |SELECT tf.doc_id,
      |  CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.term IS NULL THEN tf.tf ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(SUM(CASE WHEN v.term IS NULL THEN tf.tf ELSE 0 END) AS DOUBLE)
      |    / SUM(tf.tf) AS oov_rate
      |FROM tf LEFT JOIN vocab v USING (term)
      |GROUP BY 1""".stripMargin,
    "per-doc out-of-vocabulary token share against the corpus top-200 vocab") {
    (s, dir) =>
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
        .filter(length(col("t")) > 0)
        .select(col("doc_id"), lower(col("t")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("n"))
        .orderBy(col("n").desc, col("term")).limit(200).select(col("term"))
      tf.join(broadcast(vocab.withColumn("in_v", lit(1))), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("in_v").isNull, col("tf")).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  // ---------------------------------------------------------------- q141
  /** Lexical-diversity scoring — the vocabulary-concentration quality
    * signals q20's surface stats don't see: type-token ratio, the top
    * token's mass share, and Gini-Simpson impurity. Every measure is an
    * exact rational of integer aggregates (n, distinct types, max count,
    * sum of squared counts), so the doubles are bit-identical across
    * engines with no order-dependent float accumulation. Two partial-agg
    * shuffles, both on doc_id. */
  val q141LexicalStats: Q = Q.sql(
    "q141_lexical_stats",
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, lower(t) AS term FROM tk WHERE length(t) > 0
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
      |)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(COUNT(*) AS DOUBLE) / SUM(c) AS ttr,
      |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_share,
      |  1.0 - CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c)) AS gini
      |FROM tf GROUP BY 1""".stripMargin,
    "type-token ratio, top-token share, Gini-Simpson impurity per doc") {
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
        .filter(length(col("t")) > 0)
        .select(col("doc_id"), lower(col("t")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          max(col("c")).as("mx"), sum(col("c") * col("c")).as("sq"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          (col("mx").cast("double") / col("n_tokens")).as("top_share"),
          (lit(1.0) - col("sq").cast("double")
            / (col("n_tokens") * col("n_tokens"))).as("gini"))
  }

  // ---------------------------------------------------------------- q144
  /** Probability-proportional-to-size Poisson sampling — weighted corpus
    * subsampling (weight = n_chars, expected draw ≈ 100 docs) in the
    * only shape that scales: a per-row hash-Bernoulli against a
    * weight-proportional integer threshold. The corpus total is the one
    * 1-row broadcast; everything else is map-only — no windows, no
    * cumulative-weight scan (the systematic-PPS spelling would need a
    * global prefix sum). Threshold arithmetic is exact BIGINT
    * (w·M·K // total, clamped at M) so inclusion is reproducible on any
    * engine; the emitted p_incl is the exact rational thr/M. */
  val q144PpsSample: Q = {
    val M = 1000000L
    val K = 100L
    Q.sql(
      "q144_pps_sample",
      s"""WITH tot AS (
         |  SELECT SUM(n_chars) AS total FROM documents
         |), h AS (
         |  SELECT doc_id, lang, n_chars,
         |    ('0x' || substr(md5('pps|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv,
         |    LEAST($M, (n_chars * $M * $K) // total) AS thr
         |  FROM documents CROSS JOIN tot
         |)
         |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
         |  CAST(thr AS BIGINT) AS thr,
         |  CAST(thr AS DOUBLE) / $M AS p_incl
         |FROM h WHERE hv % $M < thr""".stripMargin,
      "weighted Poisson PPS sample: map-only hash draw vs integer threshold") {
      (s, dir) =>
        val tot = docs(s, dir).agg(sum(col("n_chars")).as("total"))
        val hv = Text.baseHash(concat(lit("pps|"), col("doc_id").cast("string")))
        docs(s, dir).crossJoin(broadcast(tot))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("total"),
            hv.as("hv"),
            least(lit(M), expr(s"(n_chars * $M * $K) div total")).as("thr"))
          .filter(col("hv") % M < col("thr"))
          .select(col("doc_id"), col("lang"), col("n_chars").as("weight"),
            col("thr"), (col("thr").cast("double") / M).as("p_incl"))
    }
  }

  // ---------------------------------------------------------------- q149
  /** Leakage-aware train/val/test split — the FIX for the contamination
    * q89 measures: a naive per-document hash split strands near-dup
    * twins on opposite sides of the train/eval boundary; splitting by
    * the q29 dedup CLUSTER id instead sends every member of a near-dup
    * family to the same side by construction (AnalyticsSpec asserts
    * zero straddling q25 pairs end-to-end). The 90/5/5 draw is the q76
    * hash-Bernoulli discipline on the CLUSTER key — deterministic,
    * engine-portable, map-side after the cluster assignment; the one
    * real cost is the dedup clustering itself, which a pipeline has
    * already paid (q29/q46/q104 share the stage). */
  val q149LeakageSplit: Q = Q.sql(
    "q149_leakage_split",
    s"""WITH RECURSIVE $clustersSql,
       |sp AS (
       |  SELECT doc_id, cluster_id,
       |    ('0x' || substr(md5('spl|' || CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 100 AS bucket
       |  FROM comp
       |)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN bucket < 90 THEN 'train'
       |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
       |FROM sp""".stripMargin,
    "leakage-aware split: near-dup clusters assigned whole to train/val/test") {
    (s, dir) =>
      val bucket = Text.baseHash(
        concat(lit("spl|"), col("cluster_id").cast("string"))) % 100
      dedupClusters(s, dir)
        .withColumn("bucket", bucket)
        .select(col("doc_id"), col("cluster_id"),
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test").as("split"))
  }

  // ---------------------------------------------------------------- q151
  /** Hard-negative mining for contrastive training — the pair-generation
    * step of embedding-model training data: for each anchor document,
    * the most lexically similar documents that are NOT near-duplicates
    * (share ≥ 1 LSH band bucket, exact Jaccard < 0.2), top-3 per anchor
    * by descending similarity. Exactly the q25 candidate machinery with
    * the threshold inverted — the same bucketed equi-join generates
    * positives (≥ 0.5, dedup) and hard negatives (< 0.2, training
    * pairs); the symmetric expansion makes every pair an anchor row
    * both ways, and WindowGroupLimit prunes the per-anchor top-3 before
    * the rank sort completes. */
  val q151HardNegatives: Q = Q.sql(
    "q151_hard_negatives",
    s"""WITH cj AS (
       |  $candJaccardSql
       |), neg AS (
       |  SELECT doc_a AS anchor_id, doc_b AS negative_id, jaccard
       |  FROM cj WHERE jaccard < 0.2
       |  UNION ALL
       |  SELECT doc_b, doc_a, jaccard FROM cj WHERE jaccard < 0.2
       |)
       |SELECT anchor_id, negative_id, jaccard, CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT *, row_number() OVER
       |        (PARTITION BY anchor_id ORDER BY jaccard DESC, negative_id) AS rnk
       |      FROM neg)
       |WHERE rnk <= 3""".stripMargin,
    "hard negatives: top-3 band-colliding non-duplicates per anchor") {
    (s, dir) =>
      val cj = candidateJaccard(s, dir).filter(col("jaccard") < 0.2)
      val sym = cj.select(col("doc_a").as("anchor_id"),
          col("doc_b").as("negative_id"), col("jaccard"))
        .unionByName(cj.select(col("doc_b").as("anchor_id"),
          col("doc_a").as("negative_id"), col("jaccard")))
      val w = Window.partitionBy(col("anchor_id"))
        .orderBy(col("jaccard").desc, col("negative_id"))
      sym.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("anchor_id"), col("negative_id"), col("jaccard"),
          col("rnk").cast("long").as("rnk"))
  }

  // ---------------------------------------------------------------- q154
  /** Conjunctive lexical search — the keyword-retrieval twin of the
    * embedding ANN family (q30-q33): docs containing ALL query terms,
    * ranked by summed tf·idf with q79's transcendental-free raw-ratio
    * idf. The term filter lands BEFORE any aggregation, so the token
    * stream collapses to query-term postings at the scan (at 100 TB
    * this is the inverted-index probe: only the 3 terms' postings move);
    * df/N ride in as one 1-row broadcast, the per-term scores add in
    * FIXED written order (bit-identical doubles both engines), and the
    * top-10 is `ORDER BY … LIMIT` — TakeOrderedAndProject, no global
    * sort. */
  val q154LexicalSearch: Q = {
    val terms = Seq("spark", "join", "filter")
    val sparkScore = terms.map(t =>
      s"(CAST(tf_$t AS DOUBLE) * n_docs / df_$t)").mkString(" + ")
    Q.sql(
      "q154_lexical_search",
      s"""WITH tk AS (
         |  SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\\s+'))) AS t
         |  FROM documents
         |), q AS (
         |  SELECT doc_id, t FROM tk WHERE t IN (${sqlList(terms)})
         |), tf AS (
         |  SELECT doc_id,
         |    ${terms.map(t => s"SUM(CASE WHEN t = '$t' THEN 1 ELSE 0 END) AS tf_$t")
                  .mkString(",\n         |    ")}
         |  FROM q GROUP BY doc_id
         |), stats AS (
         |  SELECT
         |    ${terms.map(t => s"SUM(CASE WHEN t = '$t' THEN 1 ELSE 0 END) AS df_$t")
                  .mkString(",\n         |    ")},
         |    (SELECT COUNT(*) FROM documents) AS n_docs
         |  FROM (SELECT DISTINCT doc_id, t FROM q)
         |)
         |SELECT doc_id,
         |  ${terms.map(t => s"CAST(tf_$t AS BIGINT) AS tf_$t").mkString(", ")},
         |  $sparkScore AS score
         |FROM tf CROSS JOIN stats
         |WHERE ${terms.map(t => s"tf_$t > 0").mkString(" AND ")}
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      "conjunctive keyword search, tf-idf ranked top-10") { (s, dir) =>
      val q = docs(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t0"))
        .select(col("doc_id"), lower(col("t0")).as("t"))
        .filter(col("t").isin(terms: _*))
      val tf = q.groupBy(col("doc_id"))
        .agg(terms.map(t => sum(when(col("t") === t, 1).otherwise(0))
          .as(s"tf_$t")).head,
          terms.map(t => sum(when(col("t") === t, 1).otherwise(0))
            .as(s"tf_$t")).tail: _*)
        .filter(terms.map(t => col(s"tf_$t") > 0).reduce(_ && _))
      val dfs = q.distinct().agg(
        terms.map(t => sum(when(col("t") === t, 1).otherwise(0))
          .as(s"df_$t")).head,
        terms.map(t => sum(when(col("t") === t, 1).otherwise(0))
          .as(s"df_$t")).tail: _*)
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val score = terms.map(t =>
        col(s"tf_$t").cast("double") * col("n_docs") / col(s"df_$t"))
        .reduce(_ + _)
      tf.crossJoin(broadcast(dfs)).crossJoin(broadcast(n))
        .select(col("doc_id") +:
          terms.map(t => col(s"tf_$t").cast("long").as(s"tf_$t")) :+
          score.as("score"): _*)
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }
  }

  // ---------------------------------------------------------------- q150
  /** Corpus snapshot diff — dataset versioning between two crawls: a
    * full outer join on the document key classifies every id as added /
    * removed / changed / unchanged by comparing content hashes. The
    * second snapshot is derived deterministically from the first (10%
    * dropped, every 7th re-edited, every 13th re-crawled under a new id)
    * so the operator exercises all four states; in production both
    * sides are real crawl manifests and the plan is identical — ONE
    * co-partitioned equi-key shuffle pair, hash compare map-side, no
    * content ever moves (only doc_id + md5). */
  val q150SnapshotDiff: Q = Q.sql(
    "q150_snapshot_diff",
    """WITH a AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    md5(text || CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END) AS h
      |  FROM documents WHERE doc_id % 10 <> 3
      |  UNION ALL
      |  SELECT doc_id + 1000000, md5(text || ' new')
      |  FROM documents WHERE doc_id % 13 = 0
      |)
      |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN a.h <> b.h THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM a FULL OUTER JOIN b ON b.doc_id = a.doc_id""".stripMargin,
    "CDC-style snapshot diff: added/removed/changed/unchanged by content hash") {
    (s, dir) =>
      val a = docs(s, dir).select(col("doc_id"), md5(col("text")).as("ha"))
      val b = docs(s, dir).filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          md5(concat(col("text"),
            when(col("doc_id") % 7 === 0, " v2").otherwise(""))).as("hb"))
        .unionByName(docs(s, dir).filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(concat(col("text"), lit(" new"))).as("hb")))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("ha").isNull, "added")
            .when(col("hb").isNull, "removed")
            .when(col("ha") =!= col("hb"), "changed")
            .otherwise("unchanged").as("status"))
  }

  // ---------------------------------------------------------------- q164
  /** Inverted-index BUILD — the retrieval-side artifact q154 only
    * probes: per term its document frequency, collection frequency and
    * the doc_id-ordered postings list (`doc:tf` pairs). This is the
    * distributed index-construction shape (one groupBy-term shuffle of
    * (term, doc, tf) triples — how Lucene/ES builds shard in bulk);
    * terms below df 10 are noise and skipped, and postings MATERIALIZE
    * only for df ≤ 200 — a stopword's postings list is O(corpus) and a
    * real build range-shards those few terms (the q93 sharding shape),
    * so the high-df rows keep their stats and carry NULL postings here.
    * The bounded-state contract is structural, not cosmetic: df/cf come
    * from a partial-agg stats pass with NO list buffer, and the
    * collect_list pass runs only over rows that survive a semi-join on
    * the df≤200 term set — a stopword term never feeds ANY aggregation
    * buffer with its O(corpus) postings; the largest buffer any reducer
    * holds is 200 entries. Three term-keyed hash exchanges (stats,
    * semi, collect) that AQE co-plans; the final left join stitches
    * NULL postings onto the high-df rows. */
  val q164PostingsIndex: Q = Q.sql(
    "q164_postings_index",
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM tk GROUP BY 1, 2
      |)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
      |  CASE WHEN COUNT(*) <= 200 THEN
      |    string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) END AS postings
      |FROM tf GROUP BY term HAVING COUNT(*) >= 10""".stripMargin,
    "inverted-index build: df/cf stats + doc-ordered postings per term") {
    (s, dir) =>
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val stats = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
        .filter(col("df") >= 10)
      // postings buffers exist ONLY for df<=200 terms (max 200 entries)
      val postings = tf
        .join(stats.filter(col("df") <= 200).select(col("term")),
          Seq("term"), "left_semi")
        .groupBy(col("term"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("tf")))),
            x => concat(x("doc_id").cast("string"), lit(":"),
              x("tf").cast("string"))), ",").as("postings"))
      stats.join(postings, Seq("term"), "left_outer")
        .select(col("term"), col("df"), col("cf"), col("postings"))
  }

  // ---------------------------------------------------------------- q166
  /** HyperLogLog distinct tokens per source — the industry-standard
    * sketch (Flajolet '07) beside the house KMV (q44): ONE pass through
    * the native mergeable [[graft.functions.HllRegisters]] aggregate
    * (p=10 → 1 KiB of state per source at ANY corpus size, duplicates
    * absorbed by register max so no DISTINCT pre-pass exists), with the
    * estimate derived from the register array by exact-integer Column
    * arithmetic: S = Σ 2^(51−M) stays a bigint (≤ 2^61 — EXACT, where
    * the float harmonic sum would be order-dependent), and the raw
    * estimate α·m²·2^51/S is one fixed-order double expression over
    * exact integers — bit-identical on both engines. The zero-register
    * count rides along: production applies linear counting below
    * 2.5·m via ln (engines round transcendentals apart, so the gate
    * pins the raw estimate; v_zero = 0 here anyway, making both
    * branches equal). Exact distinct is aggregated alongside so the
    * row itself documents the sketch's error (~3% at p=10). */
  val q166HllDistinct: Q = Q.sql(
    "q166_hll_distinct",
    """WITH tk AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents
      |), hh AS (
      |  SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk
      |), rg AS (
      |  SELECT source, h // 1125899906842624 AS idx,
      |    MAX(CASE WHEN h % 1125899906842624 = 0 THEN 51
      |             ELSE 51 - length(bin(h % 1125899906842624)) END) AS reg
      |  FROM hh GROUP BY 1, 2
      |), grid AS (
      |  SELECT s.source, g.idx
      |  FROM (SELECT DISTINCT source FROM documents) s
      |  CROSS JOIN (SELECT unnest(range(0, 1024)) AS idx) g
      |), regs AS (
      |  SELECT g.source, COALESCE(r.reg, 0) AS reg
      |  FROM grid g LEFT JOIN rg r ON r.source = g.source AND r.idx = g.idx
      |), agg AS (
      |  SELECT source,
      |    CAST(SUM(CAST(1 AS BIGINT) << (51 - reg)) AS BIGINT) AS s_sum,
      |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |  FROM regs GROUP BY 1
      |), ex AS (
      |  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact
      |  FROM tk GROUP BY 1
      |)
      |SELECT e.source, e.n_exact, a.v_zero, a.s_sum,
      |  (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 1024.0))
      |    * (CAST(1048576 AS DOUBLE) * 2251799813685248) / a.s_sum AS hll_est
      |FROM ex e JOIN agg a ON a.source = e.source""".stripMargin,
    "HLL distinct-count sketch per source: registers, exact twin, raw estimate") {
    (s, dir) =>
      val toks = spreadDocs(s, dir)
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      toks
        .groupBy(col("source"))
        .agg(
          graft.functions.Hll.registers(Text.baseHash(col("tok")), 10)
            .as("regs"),
          countDistinct(col("tok")).as("n_exact"))
        .select(col("source"), col("n_exact"),
          expr("cast(size(filter(regs, r -> r = 0)) as bigint)").as("v_zero"),
          expr("aggregate(regs, cast(0 as bigint)," +
            " (acc, r) -> acc + shiftleft(cast(1 as bigint), 51 - r))")
            .as("s_sum"),
          ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(1024.0)))
            * (lit(1048576.0) * lit(2.251799813685248e15))
            / col("s_sum")).as("hll_est"))
  }

  // ---------------------------------------------------------------- q183
  /** BPE APPLY — the encode side q113 trains: the corpus-wide top-20
    * merge candidates (q113's exact cnt-DESC/pair-ASC ranking) applied
    * to every document's base-token sequence in rank order, one bounded
    * greedy pass per merge ([[graft.ops.Text.bpeApply]]'s double-space
    * `replace` spelling — left-to-right non-overlapping, whole-token
    * anchored, engine-portable). This feeds q94's token budgeting with a
    * LEARNED tokenizer count (`n_merged`) instead of whitespace tokens.
    *
    * Contract note: applying a FIXED ranked merge LIST in one pass per
    * merge is BPE inference over a trained vocabulary (the deployment
    * shape — tokenization must be frozen once training starts); the
    * trainer's between-merge count refresh is q113's side of the fence.
    *
    * Scale shape: the trainer pass is q113's vocab²-bounded histogram +
    * a rank window over that bounded frame only; the 20-pair model is a
    * broadcast; the apply is map-side codegen'd string work — the whole
    * query adds ONE aggregation shuffle over pair strings, and the
    * per-doc output rides the scan. */
  val q183BpeApply: Q = {
    // the chained-replace apply, generated once for both engines:
    // DuckDB spells slot i of the broadcast merge list ms[i]
    val duckApply = (1 to 20).foldLeft(
      "'  ' || array_to_string(t, '  ') || '  '") { (acc, i) =>
      s"replace($acc, coalesce(' ' || string_split(ms[$i], ' ')[1] || '  ' || " +
        s"string_split(ms[$i], ' ')[2] || ' ', chr(1)), " +
        s"coalesce(' ' || replace(ms[$i], ' ', '') || ' ', chr(1)))"
    }
    Q.sql(
      "q183_bpe_apply",
      s"""WITH b AS (
         |  SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS t
         |  FROM documents
         |), p AS (
         |  SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS pair
         |  FROM b, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
         |  WHERE len(t) >= 2
         |), h AS (
         |  SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1
         |), rk AS (
         |  SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) AS rnk FROM h
         |), m AS (
         |  SELECT array_agg(pair ORDER BY rnk) AS ms FROM rk WHERE rnk <= 20
         |), ap AS (
         |  SELECT doc_id, len(t) AS n_base,
         |    replace(trim($duckApply), '  ', ' ') AS merged
         |  FROM b CROSS JOIN m
         |)
         |SELECT doc_id, CAST(n_base AS BIGINT) AS n_base,
         |  CAST(CASE WHEN n_base = 0 THEN 0
         |       ELSE len(string_split(merged, ' ')) END AS BIGINT) AS n_merged,
         |  merged
         |FROM ap""".stripMargin,
      "BPE apply: encode the corpus with q113's trained top-20 merge list") {
      (s, dir) =>
        val bt = col("bt")
        val pairGrams = when(size(bt) >= 2,
          transform(sequence(lit(1), size(bt) - 1),
            i => concat_ws(" ", element_at(bt, i), element_at(bt, i + lit(1)))))
          .otherwise(array().cast("array<string>"))
        val h = docs(s, dir)
          .select(Text.bpeTokens(col("text")).as("bt"))
          .select(explode(pairGrams).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
        // rank window over the vocab²-bounded histogram only (q113's
        // bounded-input global-window discipline), folded to the 20-pair
        // model row the apply broadcasts
        val w = Window.orderBy(col("cnt").desc, col("pair"))
        val merges = h.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 20)
          .groupBy()
          .agg(transform(
            array_sort(collect_list(struct(col("rnk"), col("pair")))),
            m => m.getField("pair")).as("ms"))
        docs(s, dir)
          .select(col("doc_id"), Text.bpeTokens(col("text")).as("bt"))
          .crossJoin(broadcast(merges))
          // materialize merged ONCE (the q135 HOF/recompute lesson)
          .withColumn("merged", Text.bpeApply(col("bt"), col("ms"), 20))
          .select(col("doc_id"),
            size(col("bt")).cast("long").as("n_base"),
            when(size(col("bt")) === 0, lit(0L))
              .otherwise(size(split(col("merged"), " ")).cast("long"))
              .as("n_merged"),
            col("merged"))
    }
  }

  // ---------------------------------------------------------------- q185
  /** Range-sharded HOT-TERM postings — the missing half of q164's
    * contract made demonstrable: q164 leaves df>200 terms with NULL
    * postings and a prose note that a real build range-shards them
    * (q93's shape); this query ACTUALLY emits those shards for the ten
    * hottest terms. Shard assignment is `(row_number − 1) div 200`
    * within each term's doc_id order, so every output shard holds AT
    * MOST 200 postings exactly (not in expectation — the reason this is
    * a row_number spelling and not a hash-mod one), and the per-term
    * sort behind row_number is a SortExec that SPILLS under pressure —
    * unlike an aggregation list buffer, which is precisely the failure
    * mode q164 refuses. Top-10 gate keeps the output bounded; the hot
    * term set itself is a broadcast-sized frame.
    *
    * Scale: one (term,doc) partial-agg shuffle, a rank window over the
    * O(vocab) stats frame, a semi-join onto the ten hot terms, one
    * per-term window sort (distributed across terms; each term one
    * spillable run), one (term, shard) partial-agg collect of ≤200. */
  val q185ShardedPostings: Q = Q.sql(
    "q185_sharded_postings",
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM tk GROUP BY 1, 2
      |), st AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |), hot AS (
      |  SELECT term, df,
      |    row_number() OVER (ORDER BY df DESC, term) AS rnk
      |  FROM st WHERE df > 200
      |), sh AS (
      |  SELECT tf.term, h.df, tf.doc_id, tf.tf,
      |    (row_number() OVER (PARTITION BY tf.term ORDER BY tf.doc_id) - 1)
      |      // 200 AS shard
      |  FROM tf JOIN hot h ON h.term = tf.term AND h.rnk <= 10
      |)
      |SELECT term, CAST(shard AS BIGINT) AS shard, df,
      |  CAST(COUNT(*) AS BIGINT) AS n_in_shard,
      |  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
      |FROM sh GROUP BY term, shard, df""".stripMargin,
    "range-sharded postings for the top-10 hot (df>200) terms, <=200 per shard") {
    (s, dir) =>
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val st = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 200)
      // rank window over the O(vocab) df>200 frame only
      val hot = st.withColumn("rnk",
        row_number().over(Window.orderBy(col("df").desc, col("term"))))
        .filter(col("rnk") <= 10)
        .select(col("term"), col("df"))
      val wTerm = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      val sh = tf.join(broadcast(hot), Seq("term"))
        .withColumn("shard",
          floor((row_number().over(wTerm) - 1) / 200).cast("long"))
      sh.groupBy(col("term"), col("shard"), col("df"))
        .agg(count(lit(1)).as("n_in_shard"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("doc_id"), col("tf")))),
              x => concat(x("doc_id").cast("string"), lit(":"),
                x("tf").cast("string"))), ",").as("postings"))
        .select(col("term"), col("shard"), col("df"),
          col("n_in_shard").cast("long").as("n_in_shard"), col("postings"))
  }

  // ---------------------------------------------------------------- q195
  /** Sorted-neighborhood dedup candidates — the THIRD blocking family
    * beside hashing (q22/q24's equi-buckets) and banding (q24's LSH):
    * Hernández–Stolfo SIGMOD'95. Sort each block (first token — the
    * lexical blocking key) by (text, doc_id) and pair every document
    * with its w=3 successors, then verify with an exact edit distance
    * on the 64-char prefix (Levenshtein is integer-exact in both
    * engines). Catches near-dups whose EDITS fall outside any fixed
    * shingle (a one-char typo in every 3-gram window) that hash
    * blocking misses.
    *
    * Scale shape: candidates are n·w by construction — the sort, not a
    * join, is the quadratic-killer. The window partitions by the
    * blocking key (block sizes are vocabulary-bound, never
    * corpus-bound), the three LEADs ride ONE block exchange, and the
    * O(64²) edit-distance verify is map-side codegen. Pairs that cross
    * a block boundary are out of scope by contract (the classic
    * multi-pass SNM answer: re-run with a second sort key). */
  val q195SortedNeighborhood: Q = Q.sql(
    "q195_sorted_neighborhood",
    """WITH t AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(text), '\s+')[1] AS block
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, text, block,
      |    ROW_NUMBER() OVER (PARTITION BY block ORDER BY text, doc_id) AS rn
      |  FROM t
      |)
      |SELECT a.block, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(b.rn - a.rn AS BIGINT) AS gap,
      |  CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64))
      |    AS BIGINT) AS dist
      |FROM r a JOIN r b
      |  ON b.block = a.block AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
      |WHERE levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) <= 20
      |""".stripMargin,
    "sorted-neighborhood (w=3) dedup candidates verified by 64-char edit distance") {
    (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"), col("text"),
        element_at(split(trim(col("text")), "\\s+"), 1).as("block"))
      val w = Window.partitionBy(col("block")).orderBy(col("text"), col("doc_id"))
      // three LEADs on one block exchange replace the oracle's rank
      // self-join: each row carries its w successors forward
      val led = t.select(col("block"), col("doc_id"), col("text"),
        array((1 to 3).map(i =>
          lead(struct(col("doc_id").as("id"), col("text").as("tx")), i)
            .over(w)): _*).as("nxt"))
        .select(col("block"), col("doc_id"), col("text"),
          posexplode(col("nxt")))
        .filter(col("col").isNotNull)
      led.select(col("block"), col("doc_id").as("doc_a"),
          col("col.id").as("doc_b"), (col("pos") + 1).cast("long").as("gap"),
          levenshtein(substring(col("text"), 1, 64),
            substring(col("col.tx"), 1, 64)).cast("long").as("dist"))
        .filter(col("dist") <= 20)
  }

  // ---------------------------------------------------------------- q197
  /** Prefix-filtered exact Jaccard join (PPJoin's filter; Chaudhuri
    * ICDE'06, Xiao WWW'08) — the LOSSLESS candidate generator of the
    * dedup family: order every document's shingles rarest-first
    * (global df asc, hash asc), keep only the first
    * ⌊sz/2⌋+1 as the τ=0.5 prefix, and join prefixes. The theorem: two
    * sets with J ≥ τ MUST collide in their prefixes — so unlike
    * MinHash bands (q24, probabilistic recall) the candidate set
    * provably contains every qualifying pair, and the oracle needn't
    * replay the pruning at all: it computes plain exact Jaccard ≥ τ on
    * the full index, and equality of outputs IS the losslessness proof
    * (the q180 discipline).
    *
    * Scale shape: candidate generation joins PREFIXES only — and the
    * rarest-first order means prefix shingles are exactly the low-df
    * ones, so the equi-join fan-out is inverse-selected against hot
    * keys (the df-cut's effect without discarding any pair). The
    * verify stage re-joins the full index but ONLY along candidate
    * pairs (two equi-joins keyed on doc id + hash). */
  val q197PrefixJaccard: Q = Q.sql(
    "q197_prefix_jaccard",
    s"""WITH sh AS (
      |  $shingleHashSql
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b USING (h)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin,
    "prefix-filtered exact Jaccard >= 0.5 pairs; oracle replays WITHOUT the filter (losslessness proof)") {
    (s, dir) =>
      val idx = shingleIndex(s, dir)
      val df = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val wr = Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("h"))
      val prefix = idx.join(df, Seq("h"))
        .withColumn("r", row_number().over(wr))
        .join(sizes, Seq("doc_id"))
        // tau=0.5 prefix bound: sz - ceil(tau*sz) + 1 = floor(sz/2) + 1
        .filter(col("r") <= expr("sz div 2") + 1)
        .select(col("doc_id"), col("h"), col("r"), col("sz"))
      // candidate generation with BOTH lossless PPJoin cuts (the plain
      // prefix filter alone left 4.1M candidates at the 10× blow-up, and
      // pushing them through a posting-list verify join measured 125 s):
      //  - length filter: J <= min/max sizes, so >2x size skew can't verify
      //  - positional filter: ranks are over ONE global (df, h) order, so
      //    |A∩B| <= 1 + min(sza-ra, szb-rb) for any matched prefix h; a
      //    pair none of whose matches can reach the tau overlap
      //    ceil((sza+szb)/3) is dead (Xiao et al., WWW'08)
      val cand = prefix.as("pa")
        .join(prefix.as("pb"), col("pa.h") === col("pb.h")
          && col("pa.doc_id") < col("pb.doc_id")
          && col("pa.sz") * 2 >= col("pb.sz")
          && col("pb.sz") * 2 >= col("pa.sz"))
        .groupBy(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
        .agg(
          max(lit(1) + least(col("pa.sz") - col("pa.r"),
            col("pb.sz") - col("pb.r"))).as("ub"),
          first(col("pa.sz")).as("sza"), first(col("pb.sz")).as("szb"))
        .filter(col("ub") >= ceil((col("sza") + col("szb")) / 3.0))
        .select(col("doc_a"), col("doc_b"))
      // exact verify as a per-pair ARRAY intersection: each doc's sorted
      // shingle-hash array joins in by doc id (50-element payload), and
      // the intersection size evaluates inside codegen — no corpus-sized
      // posting-list shuffle scales with the CANDIDATES, only with docs
      val docArrays = idx.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hs"),
          count(lit(1)).as("sz"))
      val jac = col("i").cast("double") / (col("sza") + col("szb") - col("i"))
      cand
        .join(docArrays.select(col("doc_id").as("doc_a"),
          col("hs").as("ha"), col("sz").as("sza")), Seq("doc_a"))
        .join(docArrays.select(col("doc_id").as("doc_b"),
          col("hs").as("hb"), col("sz").as("szb")), Seq("doc_b"))
        .withColumn("i", size(array_intersect(col("ha"), col("hb"))).cast("long"))
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  // ---------------------------------------------------------------- q205
  /** Duplicated n-gram SPAN detection — the exact-substring dedup shape
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL'22), scaled to word 8-grams: find every 8-token span
    * whose text occurs more than once ANYWHERE in the corpus, merge
    * overlapping duplicated spans per document (gap-and-island on span
    * starts), and report per-doc duplicated-token mass. Unlike q22/q25
    * (whole/near-doc dedup) this localizes duplication WITHIN documents
    * — the operator that finds boilerplate headers and quoted passages
    * a document-level dedup can't see.
    *
    * Scale shape: gram enumeration is a per-doc map (positions ride one
    * projection — the token array is materialized ONCE per doc, the
    * HOF-recompute trap measured in q135/q88); duplicate detection is a
    * partial-agg count on the 60-bit gram hash (never the gram text);
    * the span merge is one per-doc window over only the DUPLICATED
    * grams (a small fraction of the corpus). No stage is quadratic; at
    * 100 TB the count shuffle is hash-partitioned map-side-combined
    * longs, the Lee et al. suffix-array pass re-expressed as
    * aggregation.
    */
  val q205DupSpans: Q = {
    val n = 8
    Q.sql(
      "q205_dup_spans",
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS s0,
         |    ('0x' || substr(md5(array_to_string(toks[i:i+${n - 1}], ' ')), 1, 15))::BIGINT AS h
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - ${n - 1})) AS i) u
         |  WHERE len(toks) >= $n
         |), dup AS (
         |  SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1
         |), spans AS (
         |  SELECT g.doc_id, g.s0, g.s0 + ${n - 1} AS e0
         |  FROM g WHERE g.h IN (SELECT h FROM dup)
         |), isl AS (
         |  SELECT doc_id, s0, e0,
         |    CASE WHEN s0 > COALESCE(MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
         |  FROM spans
         |), grp AS (
         |  SELECT doc_id, s0, e0,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s0
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM isl
         |), merged AS (
         |  SELECT doc_id, island, MIN(s0) AS ms, MAX(e0) AS me
         |  FROM grp GROUP BY 1, 2
         |)
         |SELECT t.doc_id,
         |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(d.n_spans, 0) AS BIGINT) AS dup_spans,
         |  CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CAST(COALESCE(d.dup_tokens, 0) AS DOUBLE) / len(t.toks) AS dup_frac
         |FROM t
         |LEFT JOIN (
         |  SELECT doc_id, COUNT(*) AS n_spans, SUM(me - ms + 1) AS dup_tokens
         |  FROM merged GROUP BY 1
         |) d ON d.doc_id = t.doc_id
         |WHERE len(t.toks) >= $n""".stripMargin,
      "per-doc duplicated 8-gram span mass (Lee et al. exact-substring dedup shape)") {
      (s, dir) =>
        val t = spreadDocs(s, dir)
          .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
          .where(size(col("toks")) >= n)
        val gram = (i: Column) =>
          concat_ws(" ", (0 until n).map(o => element_at(col("toks"), i + lit(o))): _*)
        val g = t
          .select(col("doc_id"), size(col("toks")).as("n_toks"),
            posexplode(transform(
              sequence(lit(1), size(col("toks")) - (n - 1)),
              i => Text.baseHash(gram(i)))))
          .select(col("doc_id"), col("n_toks"),
            (col("pos") + 1).cast("long").as("s0"), col("col").as("h"))
        val dup = g.groupBy(col("h")).agg(count(lit(1)).as("c"))
          .where(col("c") > 1).select(col("h"))
        val spans = g.join(dup, "h")
          .select(col("doc_id"), col("s0"), (col("s0") + (n - 1)).as("e0"))
        val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("s0"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy(col("doc_id")).orderBy(col("s0"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val merged = spans
          .withColumn("brk",
            when(col("s0") > coalesce(max(col("e0")).over(wPrev), lit(-1L)), 1)
              .otherwise(0))
          .withColumn("island", sum(col("brk")).over(wRun))
          .groupBy(col("doc_id"), col("island"))
          .agg(min(col("s0")).as("ms"), max(col("e0")).as("me"))
        val perDoc = merged.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("me") - col("ms") + 1).as("dup_tokens"))
        t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_spans"), lit(0L)).as("dup_spans"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            (coalesce(col("dup_tokens"), lit(0L)).cast("double")
              / col("n_tokens")).as("dup_frac"))
    }
  }

  // ---------------------------------------------------------------- q206
  /** Target-mixture corpus resampling — the operator that APPLIES a
    * domain mixture (q120 computes weights; this enforces them): given
    * declared target language shares and a token budget of 80% of the
    * corpus, derive per-language acceptance rates
    * `min(1, w·T / c_lang)` and accept each document by a deterministic
    * md5 Bernoulli draw (`hash % 1e6 < floor(rate·1e6)`) — the DoReMi/
    * CC-mix resampling step, reproducible bit-for-bit across runs and
    * engines (no RNG, no order dependence). Over-represented languages
    * are thinned toward their target share; under-represented ones are
    * kept whole (the `min(1,·)` clamp — upsampling is a separate
    * repeat-epoch concern).
    *
    * Scale shape: one partial-agg count per language (bounded frame),
    * rates broadcast back, accept is a map-side predicate on the scan —
    * the full corpus is touched exactly once, shuffled never.
    */
  val q206MixtureResample: Q = {
    val weights = Seq("en" -> 0.35, "de" -> 0.30, "es" -> 0.15,
      "fr" -> 0.10, "zh" -> 0.10)
    val duckW = weights.map { case (l, w) => s"WHEN lang = '$l' THEN $w" }
      .mkString("CAST(CASE ", " ", " ELSE 0.0 END AS DOUBLE)")
    val sparkW = weights.foldLeft(lit(0.0)) { case (acc, (l, w)) =>
      when(col("lang") === l, lit(w)).otherwise(acc)
    }
    Q.sql(
      "q206_mixture_resample",
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    ('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
         |  FROM documents
         |), c AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY 1
         |), tot AS (
         |  SELECT CAST(floor(0.8 * SUM(n_docs)) AS BIGINT) AS budget FROM c
         |), r AS (
         |  SELECT lang, n_docs, ($duckW) AS target_w,
         |    LEAST(1.0, ($duckW) * CAST(budget AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS rate,
         |    CAST(floor(LEAST(1.0, ($duckW) * CAST(budget AS DOUBLE)
         |      / CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS thr
         |  FROM c, tot
         |), acc AS (
         |  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS accepted
         |  FROM d JOIN r ON r.lang = d.lang
         |  WHERE d.hv % 1000000 < r.thr
         |  GROUP BY 1
         |), ta AS (
         |  SELECT CAST(SUM(accepted) AS BIGINT) AS total_acc FROM acc
         |)
         |SELECT r.lang, r.n_docs, r.target_w, r.rate, r.thr,
         |  COALESCE(acc.accepted, 0) AS accepted,
         |  CAST(COALESCE(acc.accepted, 0) AS DOUBLE) / CAST(ta.total_acc AS DOUBLE)
         |    AS achieved_share
         |FROM r LEFT JOIN acc ON acc.lang = r.lang, ta""".stripMargin,
      "deterministic target-mixture resampling by language with md5 Bernoulli accept") {
      (s, dir) =>
        val d = docs(s, dir).select(col("lang"), col("doc_id"),
          Text.baseHash(concat(lit("mix|"), col("doc_id").cast("string"))).as("hv"))
        val c = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val tot = c.agg(floor(lit(0.8) * sum(col("n_docs"))).cast("long").as("budget"))
        val r = c.crossJoin(broadcast(tot))
          .withColumn("target_w", sparkW)
          .withColumn("rate",
            least(lit(1.0), col("target_w") * col("budget").cast("double")
              / col("n_docs").cast("double")))
          .withColumn("thr", floor(col("rate") * 1000000).cast("long"))
        val acc = d.join(broadcast(r.select(col("lang"), col("thr"))), "lang")
          .where(pmod(col("hv"), lit(1000000L)) < col("thr"))
          .groupBy(col("lang")).agg(count(lit(1)).as("accepted"))
        val ta = acc.agg(sum(col("accepted")).cast("long").as("total_acc"))
        r.join(acc, Seq("lang"), "left")
          .crossJoin(broadcast(ta))
          .select(col("lang"), col("n_docs"), col("target_w"), col("rate"),
            col("thr"), coalesce(col("accepted"), lit(0L)).as("accepted"),
            (coalesce(col("accepted"), lit(0L)).cast("double")
              / col("total_acc").cast("double")).as("achieved_share"))
    }
  }

  // ---------------------------------------------------------------- q219
  /** Chi-square feature selection — which tokens are ASSOCIATED with the
    * `lang = 'en'` label (Yang & Pedersen '97; sklearn's chi2 scorer):
    * per token the 2×2 presence/label contingency (a, b, c, d) and
    * χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), top 50. The
    * vocabulary-selection step before training a classifier on token
    * features, and the "which tokens leak the label" audit beside it.
    *
    * Counts are exact bigints off ONE distinct-presence pass; χ² is a
    * single fixed-parenthesization double expression over them (q189's
    * discipline — products reach (N²)² so an integer spelling would
    * need int128; the IEEE tree is identical on both engines, which is
    * what the hash gate needs). df ≥ 5 cuts the vocabulary tail;
    * all-docs tokens are excluded (zero denominator).
    *
    * Scale shape: presence is map-side `array_distinct` before the
    * explode; the contingency is a partial-agg groupBy to a
    * VOCABULARY-sized frame; totals ride a 1-row broadcast; the rank
    * window sees only the df-cut vocabulary (q113/q135's bounded-input
    * window discipline). Nothing corpus-sized is ever shuffled twice. */
  val q219Chi2Features: Q = Q.sql(
    "q219_chi2_features",
    """WITH t AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
      |    unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |), p AS (
      |  SELECT DISTINCT doc_id, is_en, w FROM t
      |), cnt AS (
      |  SELECT w, CAST(SUM(is_en) AS BIGINT) AS a,
      |    CAST(SUM(1 - is_en) AS BIGINT) AS b
      |  FROM p GROUP BY 1 HAVING COUNT(*) >= 5
      |), tot AS (
      |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_en,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_ne
      |  FROM documents
      |), j AS (
      |  SELECT w, a, b, n_en - a AS c, n_ne - b AS d FROM cnt, tot
      |  WHERE a + b < n_en + n_ne
      |), x AS (
      |  SELECT w, a, b, c, d,
      |    (CAST(a + b + c + d AS DOUBLE)
      |      * ((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |          - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
      |        * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |          - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))))
      |    / ((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
      |      * (CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))) AS chi2
      |  FROM j
      |)
      |SELECT w, a, b, c, d, chi2, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY chi2 DESC, w) AS rnk
      |      FROM x)
      |WHERE rnk <= 50""".stripMargin,
    "chi-square token-vs-label feature selection, top 50 by association") {
    (s, dir) =>
      val d0 = docs(s, dir)
      // toks materialized before array_distinct/explode touch them —
      // the HOF-recompute trap (q109/q135)
      val tks = d0.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"),
        Text.tokens(col("text")).as("toks"))
      val pres = tks.select(col("is_en"),
        explode(array_distinct(col("toks"))).as("w"))
      val cnt = pres.groupBy(col("w"))
        .agg(sum(col("is_en")).cast("long").as("a"),
          sum(lit(1L) - col("is_en")).cast("long").as("b"),
          count(lit(1)).as("df"))
        .filter(col("df") >= 5)
      val tot = d0.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long")
          .as("n_en"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).cast("long")
          .as("n_ne"))
      val j = cnt.crossJoin(broadcast(tot))
        .filter(col("a") + col("b") < col("n_en") + col("n_ne"))
        .select(col("w"), col("a"), col("b"),
          (col("n_en") - col("a")).as("c"),
          (col("n_ne") - col("b")).as("d"))
      val ad = col("a").cast("double") * col("d").cast("double")
      val bc = col("b").cast("double") * col("c").cast("double")
      val wr = Window.orderBy(col("chi2").desc, col("w"))
      j.select(col("w"), col("a"), col("b"), col("c"), col("d"),
          (((col("a") + col("b") + col("c") + col("d")).cast("double")
            * ((ad - bc) * (ad - bc)))
            / (((col("a") + col("b")).cast("double")
              * (col("c") + col("d")).cast("double"))
              * ((col("a") + col("c")).cast("double")
                * (col("b") + col("d")).cast("double")))).as("chi2"))
        .withColumn("rnk", row_number().over(wr).cast("long"))
        .filter(col("rnk") <= 50)
  }

  // ---------------------------------------------------------------- q220
  /** Feature hashing (the "hashing trick" — Weinberger '09; sklearn's
    * HashingVectorizer, Vowpal Wabbit's core representation): every
    * token folds into a FIXED 64-dim signed-count vector, dim = 60-bit
    * md5 hash mod 64, sign = the 16th hex digit of the same md5 (signed
    * hashing keeps the inner product unbiased). Emitted sparse as
    * (doc_id, dim, v) with exact-zero cancellations dropped — the
    * vectorization step that needs NO vocabulary pass, which is the
    * whole point at 100 TB: no vocab build, no broadcast dictionary, no
    * OOV problem, bounded width forever.
    *
    * Everything is integer (`Text.baseHash` is the engine-portable
    * md5-prefix hash every dedup family already joins on); the whole
    * query is one map-side projection + one partial-agg groupBy whose
    * output is ≤ 64 rows per doc. */
  val q220FeatureHashing: Q = Q.sql(
    "q220_feature_hashing",
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS dim,
      |    CASE WHEN substr(md5(w), 16, 1) < '8' THEN 1 ELSE -1 END AS sgn
      |  FROM t
      |)
      |SELECT doc_id, CAST(dim AS BIGINT) AS dim,
      |  CAST(SUM(sgn) AS BIGINT) AS v
      |FROM h GROUP BY 1, 2 HAVING SUM(sgn) <> 0""".stripMargin,
    "64-dim signed hashing-trick vectorizer, sparse nonzero components") {
    (s, dir) =>
      val tks = docs(s, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      val t = tks.select(col("doc_id"), explode(col("toks")).as("w"))
      val h = t.select(col("doc_id"),
        (Text.baseHash(col("w")) % 64).as("dim"),
        when(substring(md5(col("w")), 16, 1) < "8", 1L).otherwise(-1L)
          .as("sgn"))
      h.groupBy(col("doc_id"), col("dim"))
        .agg(sum(col("sgn")).cast("long").as("v"))
        .filter(col("v") =!= 0)
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("v"))
  }

  // ---------------------------------------------------------------- q221
  /** Bigram-LM held-out evaluation — train the count-based next-token
    * model on the 80% split, score top-1 prediction accuracy on the 20%
    * held-out docs, per language. The unsmoothed core of the KenLM-class
    * count LM, and the corpus QA signal LM-filtering pipelines rank on
    * ("how predictable is this slice"): accuracy and coverage both
    * exact-integer, the split the same md5('smp|'·doc_id) discipline as
    * q76/q89 so train/test membership is reproducible anywhere.
    *
    * Scale shape: bigram enumeration is the q135 in-array transform
    * (tokens materialized first — the HOF-recompute trap); the trained
    * model is a VOCABULARY-sized argmax frame cut by a per-w1 window
    * over the bigram histogram (vocab-partitioned, never a global
    * sort); eval is ONE equi-join of the test bigrams against it (AQE's
    * call to broadcast — vocab can be millions of rows at corpus
    * scale); the final roll-up is a ≤5-group partial agg. Accuracy and
    * coverage are one guarded division each at emission. */
  val q221BigramLmEval: Q = Q.sql(
    "q221_bigram_lm_eval",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100 < 20 AS is_test,
      |    string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT lang, is_test,
      |    list_extract(toks, CAST(i AS INT)) AS w1,
      |    list_extract(toks, CAST(i AS INT) + 1) AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
      |  WHERE len(toks) >= 2
      |), tc AS (
      |  SELECT w1, w2, COUNT(*) AS c FROM g WHERE NOT is_test GROUP BY 1, 2
      |), m AS (
      |  SELECT w1, w2 AS pred
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
      |          ORDER BY c DESC, w2) AS rn FROM tc)
      |  WHERE rn = 1
      |), e AS (
      |  SELECT g.lang, g.w2, m.pred
      |  FROM g LEFT JOIN m ON m.w1 = g.w1
      |  WHERE g.is_test
      |), a AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_test,
      |    CAST(SUM(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_covered,
      |    CAST(SUM(CASE WHEN pred = w2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_correct
      |  FROM e GROUP BY 1
      |)
      |SELECT lang, n_test, n_covered, n_correct,
      |  CASE WHEN n_covered > 0
      |    THEN CAST(n_correct AS DOUBLE) / n_covered END AS acc_covered,
      |  CAST(n_covered AS DOUBLE) / n_test AS coverage
      |FROM a""".stripMargin,
    "bigram count-LM trained on the 80% split, top-1 accuracy on held-out") {
    (s, dir) =>
      val t = docs(s, dir).select(col("lang"),
        (Text.baseHash(concat(lit("smp|"), col("doc_id").cast("string")))
          % 100 < 20).as("is_test"),
        Text.tokens(col("text")).as("toks"))
      val pairs = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + lit(1)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val g = t.select(col("lang"), col("is_test"), explode(pairs).as("p"))
        .select(col("lang"), col("is_test"),
          col("p.w1").as("w1"), col("p.w2").as("w2"))
      val tc = g.filter(!col("is_test"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      val wrn = Window.partitionBy(col("w1")).orderBy(col("c").desc, col("w2"))
      val m = tc.withColumn("rn", row_number().over(wrn))
        .filter(col("rn") === 1)
        .select(col("w1"), col("w2").as("pred"))
      val e = g.filter(col("is_test")).join(m, Seq("w1"), "left")
      e.groupBy(col("lang")).agg(
          count(lit(1)).cast("long").as("n_test"),
          sum(when(col("pred").isNotNull, 1L).otherwise(0L)).cast("long")
            .as("n_covered"),
          sum(when(col("pred") === col("w2"), 1L).otherwise(0L)).cast("long")
            .as("n_correct"))
        .select(col("lang"), col("n_test"), col("n_covered"), col("n_correct"),
          when(col("n_covered") > 0,
            col("n_correct").cast("double") / col("n_covered"))
            .as("acc_covered"),
          (col("n_covered").cast("double") / col("n_test")).as("coverage"))
  }

  // ---------------------------------------------------------------- q224
  /** Rendezvous (highest-random-weight) shard placement + elasticity
    * diff — Thaler & Ravishankar '96, the placement discipline behind
    * consistent-hashing stores: each doc's shard is argmax over shards
    * of md5(doc|shard), so when a 9th shard joins, a doc moves ONLY if
    * the new shard wins its argmax — expected movement 1/9 of the
    * corpus, and nothing else reshuffles. The emitted per-(old, new)
    * transition matrix is the rebalancing plan a 100 TB store would
    * execute, and the gate proves the minimal-movement property row by
    * row (every moved doc's new shard is 8 — anything else flips the
    * hash).
    *
    * Entirely map-side: 8 (then 9) constant-key hashes per doc, two
    * integer argmaxes by GREATEST-style fold, one bounded ≤81-group
    * partial agg. No shuffle touches the corpus; the weights are
    * `Text.baseHash` 60-bit integers, exact on both engines. */
  val q224RendezvousShards: Q = {
    def duckW(n: Int): String =
      (0 until n).map { k =>
        s"(SELECT $k AS s, ('0x' || substr(md5('shard' || $k || '|' " +
          s"|| CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS w)"
      }.mkString(" UNION ALL ")
    Q.sql(
      "q224_rendezvous_shards",
      s"""WITH a AS (
         |  SELECT doc_id,
         |    (SELECT s FROM (${duckW(8)}) t ORDER BY w DESC, s LIMIT 1)
         |      AS old_shard,
         |    (SELECT s FROM (${duckW(9)}) t ORDER BY w DESC, s LIMIT 1)
         |      AS new_shard
         |  FROM documents
         |)
         |SELECT CAST(old_shard AS BIGINT) AS old_shard,
         |  CAST(new_shard AS BIGINT) AS new_shard,
         |  CAST(n AS BIGINT) AS n_docs,
         |  CAST(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END AS BIGINT)
         |    AS moved
         |FROM (SELECT old_shard, new_shard, COUNT(*) AS n
         |      FROM a GROUP BY 1, 2) g""".stripMargin,
      "rendezvous-hash shard map for 8 shards and the 9-shard rebalance diff") {
      (s, dir) =>
        // argmax by weight, lowest shard id on (hash-impossible) ties:
        // greatest() orders structs lexicographically, so the id rides
        // along NEGATED — max(w, -s) picks min s among equal w, matching
        // the oracle's ORDER BY w DESC, s
        def shardOf(n: Int): Column = {
          val pairs = (0 until n).map { k =>
            struct(
              Text.baseHash(concat(lit(s"shard$k|"),
                col("doc_id").cast("string"))).as("w"),
              lit(-k.toLong).as("ns"))
          }
          greatest(pairs: _*).getField("ns") * -1
        }
        val a = docs(s, dir).select(col("doc_id"),
          shardOf(8).as("old_shard"), shardOf(9).as("new_shard"))
        a.groupBy(col("old_shard"), col("new_shard"))
          .agg(count(lit(1)).cast("long").as("n_docs"))
          .select(col("old_shard").cast("long").as("old_shard"),
            col("new_shard").cast("long").as("new_shard"), col("n_docs"),
            when(col("old_shard") =!= col("new_shard"), 1L).otherwise(0L)
              .as("moved"))
    }
  }

  // ---------------------------------------------------------------- q228
  /** Good–Turing counts-of-counts (Gale & Sampson '95 core): N_r = how
    * many token types occur exactly r times, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r, and the unseen-probability mass N_1/N —
    * the estimate of how much of the LANGUAGE the corpus hasn't seen
    * yet, which is the statistic behind vocabulary-growth planning and
    * LM smoothing (and the corpus-QA "are we still learning new
    * vocabulary" curve when tracked across snapshots).
    *
    * The type unit is the word TRIGRAM — the n-gram space Katz backoff
    * actually smooths, and the fixture's own unigram vocabulary is 31
    * saturated types (every r > 10, so unigram GT is empty — recorded,
    * not hidden). Integer end to end: the type histogram is one
    * partial-agg pass, the counts-of-counts a second partial agg over
    * the TYPE frame, and the final lead/divide runs on ≤11 rows (the
    * r ≤ 10 head — the only regime where raw Good–Turing is used
    * anyway). Nothing corpus-sized survives the first aggregation. */
  val q228GoodTuring: Q = Q.sql(
    "q228_good_turing",
    """WITH d AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), t AS (
      |  SELECT list_extract(toks, CAST(i AS INT)) || ' '
      |    || list_extract(toks, CAST(i AS INT) + 1) || ' '
      |    || list_extract(toks, CAST(i AS INT) + 2) AS w
      |  FROM d, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) r
      |  WHERE len(toks) >= 3
      |), c AS (
      |  SELECT w, COUNT(*) AS r FROM t GROUP BY 1
      |), n AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM t
      |), nr AS (
      |  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
      |  FROM c WHERE r <= 11 GROUP BY 1
      |), led AS (
      |  SELECT r, n_r,
      |    LEAD(n_r) OVER (ORDER BY r) AS n_r1,
      |    LEAD(r) OVER (ORDER BY r) AS r1
      |  FROM nr
      |)
      |SELECT CAST(r AS BIGINT) AS r, n_r,
      |  CASE WHEN r1 = r + 1
      |    THEN CAST((r + 1) * n_r1 AS DOUBLE) / n_r END AS r_star,
      |  CASE WHEN r = 1 THEN CAST(n_r AS DOUBLE) / n_tok END AS unseen_mass
      |FROM led, n WHERE r <= 10""".stripMargin,
    "Good-Turing counts-of-counts, adjusted counts, unseen vocabulary mass") {
    (s, dir) =>
      // toks materialized before the trigram transform (HOF-recompute trap)
      val tks = docs(s, dir).select(Text.tokens(col("text")).as("toks"))
      val grams = when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + lit(1)),
            element_at(col("toks"), i + lit(2)))))
        .otherwise(array().cast("array<string>"))
      val t = tks.select(explode(grams).as("w"))
      val c = t.groupBy(col("w")).agg(count(lit(1)).as("r"))
      val n = t.agg(count(lit(1)).cast("long").as("n_tok"))
      val nr = c.filter(col("r") <= 11)
        .groupBy(col("r")).agg(count(lit(1)).cast("long").as("n_r"))
      val wl = Window.orderBy(col("r"))
      val led = nr.select(col("r"), col("n_r"),
        lead(col("n_r"), 1).over(wl).as("n_r1"),
        lead(col("r"), 1).over(wl).as("r1"))
      led.filter(col("r") <= 10).crossJoin(broadcast(n))
        .select(col("r").cast("long").as("r"), col("n_r"),
          when(col("r1") === col("r") + 1,
            ((col("r") + 1) * col("n_r1")).cast("double") / col("n_r"))
            .as("r_star"),
          when(col("r") === 1, col("n_r").cast("double") / col("n_tok"))
            .as("unseen_mass"))
  }

  // ---------------------------------------------------------------- q246
  /** TextRank iterations (3 reach a stable top-10 on the fixture; the
    * oracle unrolls the identical integer recurrence). */
  val TextRankIters = 3

  private def textRankOracle: String = {
    val steps = (1 to TextRankIters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT v.lang, v.word,
         |    CAST(150000 + (850000 * COALESCE(c.s, 0)) // 1000000 AS BIGINT)
         |      AS rank
         |  FROM verts v
         |  LEFT JOIN (
         |    SELECT e.lang, e.dst AS word, SUM((r.rank * e.w) // o.ow) AS s
         |    FROM e
         |    JOIN outw o ON o.lang = e.lang AND o.src = e.src
         |    JOIN r${k - 1} r ON r.lang = e.lang AND r.word = e.src
         |    GROUP BY 1, 2) c ON c.lang = v.lang AND c.word = v.word)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT lang, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents
       |), g AS (
       |  SELECT lang,
       |    list_extract(toks, CAST(i AS INT)) AS w1,
       |    list_extract(toks, CAST(i AS INT) + 1) AS w2
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
       |  WHERE len(toks) >= 2
       |), ew AS (
       |  SELECT lang, w1 AS src, w2 AS dst FROM g WHERE w1 <> w2
       |  UNION ALL
       |  SELECT lang, w2, w1 FROM g WHERE w1 <> w2
       |), e AS MATERIALIZED (
       |  SELECT lang, src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM ew GROUP BY 1, 2, 3
       |), outw AS MATERIALIZED (
       |  SELECT lang, src, CAST(SUM(w) AS BIGINT) AS ow FROM e GROUP BY 1, 2
       |), verts AS MATERIALIZED (
       |  SELECT DISTINCT lang, src AS word FROM e
       |), r0 AS (
       |  SELECT lang, word, CAST(1000000 AS BIGINT) AS rank FROM verts
       |),
       |$steps
       |SELECT lang, word, rank AS rank_micro, CAST(rn AS BIGINT) AS rnk
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
       |        ORDER BY rank DESC, word) AS rn FROM r$TextRankIters)
       |WHERE rn <= 10""".stripMargin
  }

  /** One TextRank round, pre-checkpoint: each word's rank flows to its
    * neighbours in proportion to edge weight over its out-weight, summed
    * per (lang, word), then damped. All bigint, the oracle's recurrence. */
  private[graft] def textRankRound(e: DataFrame, outw: DataFrame,
      verts: DataFrame, rank: DataFrame): DataFrame = {
    val contrib = e
      .join(outw, Seq("lang", "src"))
      .join(rank.withColumnRenamed("word", "src"), Seq("lang", "src"))
      .select(col("lang"), col("dst").as("word"),
        expr("(rank * w) div ow").as("share"))
      .groupBy(col("lang"), col("word"))
      .agg(sum(col("share")).as("s"))
    verts.join(contrib, Seq("lang", "word"), "left_outer")
      .select(col("lang"), col("word"),
        (lit(150000L) + expr("(850000 * coalesce(s, 0)) div 1000000"))
          .cast("long").as("rank"))
  }

  /** TextRank keyword extraction (Mihalcea–Tarau '04) — per-language
    * top-10 keywords by PageRank over the word co-occurrence graph
    * (adjacent-token edges, symmetrized, co-occurrence-count weighted).
    * The unsupervised keyword/keyphrase primitive between raw token
    * stats (q20/q141) and embeddings — what a corpus browser shows per
    * slice, with zero training.
    *
    * q78's integer discipline, extended to WEIGHTED edges: the vote
    * share is (rank·w) // out_weight, all bigint, so three unrolled
    * rounds are a pure integer recurrence both engines execute
    * identically. Scale shape: bigram edges partial-aggregate to the
    * vocabulary-bounded (lang, src, dst) frame; each round is ONE
    * equi-join against the O(vocab) rank frame + a partial-agg sum —
    * the corpus is touched once, at edge build. */
  val q246TextRank: Q = Q.sql(
    "q246_textrank",
    textRankOracle,
    "per-language TextRank top-10 keywords over the co-occurrence graph") {
    (s, dir) =>
      val t = docs(s, dir).select(col("lang"),
        Text.tokens(col("text")).as("toks"))
      val pairsCol = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + lit(1)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val g = t.select(col("lang"), explode(pairsCol).as("p"))
        .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
      val ew = g.select(col("lang"), col("w1").as("src"), col("w2").as("dst"))
        .unionByName(
          g.select(col("lang"), col("w2").as("src"), col("w1").as("dst")))
      val e = graft.SessionCache.once(s, s"textrank#$dir#edges") {
        ew.groupBy(col("lang"), col("src"), col("dst"))
          .agg(count(lit(1)).cast("long").as("w")).cache()
      }
      val outw = e.groupBy(col("lang"), col("src"))
        .agg(sum(col("w")).cast("long").as("ow"))
      val verts = e.select(col("lang"), col("src").as("word")).distinct()
        .localCheckpoint()
      val rank = Superstep.fold(verts.select(col("lang"), col("word"),
        lit(1000000L).as("rank")), TextRankIters)(textRankRound(e, outw, verts, _))
      val wTop = Window.partitionBy(col("lang"))
        .orderBy(col("rank").desc, col("word"))
      rank.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("word"), col("rank").as("rank_micro"),
          col("rn").cast("long").as("rnk"))
  }

  // ---------------------------------------------------------------- q265
  /** Inverted-index size model — delta + varint, the storage planning
    * question behind every postings layout (Lucene/PISA-style): encode
    * each term's sorted doc-id postings as first-id + gaps, cost each
    * gap its LEB128 varint byte count (an exact integer CASE over
    * power-of-128 thresholds — no log), and roll up per document-
    * frequency decade: raw 8-byte postings vs delta-varint bytes and
    * the exact ratio. The df-stratified view shows WHY the encoding
    * works: hot terms have dense postings → tiny gaps → 1-byte codes,
    * so compression improves exactly where the index is biggest.
    *
    * Scale shape: one token explode → distinct (term, doc) partial
    * agg; gaps ride ONE term-keyed window exchange (q164's shape);
    * byte costs are map-side CASEs; the roll-up is a ≤7-row partial
    * agg. All exact bigints, ratio one division at emission. */
  val q265PostingsSize: Q = Q.sql(
    "q265_postings_size",
    """WITH t AS (
      |  SELECT DISTINCT w AS term, doc_id
      |  FROM documents,
      |    LATERAL UNNEST(string_split_regex(trim(text), '\s+')) u(w)
      |), g AS (
      |  SELECT term, doc_id,
      |    doc_id - LAG(doc_id) OVER (PARTITION BY term ORDER BY doc_id)
      |      AS gap
      |  FROM t
      |), b AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(SUM(CASE
      |      WHEN gap IS NULL THEN 8
      |      WHEN gap < 128 THEN 1
      |      WHEN gap < 16384 THEN 2
      |      WHEN gap < 2097152 THEN 3
      |      WHEN gap < 268435456 THEN 4
      |      ELSE 5 END) AS BIGINT) AS varint_bytes
      |  FROM g GROUP BY 1
      |), d AS (
      |  SELECT CASE WHEN df < 10 THEN 1 WHEN df < 100 THEN 10
      |    WHEN df < 1000 THEN 100 ELSE 1000 END AS df_decade,
      |    df, varint_bytes
      |  FROM b
      |)
      |SELECT CAST(df_decade AS BIGINT) AS df_decade,
      |  CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(df) AS BIGINT) AS postings,
      |  CAST(SUM(df) * 8 AS BIGINT) AS raw_bytes,
      |  CAST(SUM(varint_bytes) AS BIGINT) AS varint_bytes,
      |  CAST(SUM(varint_bytes) AS DOUBLE) / (SUM(df) * 8) AS ratio
      |FROM d GROUP BY 1""".stripMargin,
    "delta+varint postings size vs raw, per document-frequency decade") {
    (s, dir) =>
      val t = docs(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .distinct()
      val wLag = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      val g = t.select(col("term"), col("doc_id"),
        (col("doc_id") - lag(col("doc_id"), 1).over(wLag)).as("gap"))
      val b = g.groupBy(col("term"))
        .agg(count(lit(1)).cast("long").as("df"),
          sum(when(col("gap").isNull, 8L)
            .when(col("gap") < 128, 1L)
            .when(col("gap") < 16384, 2L)
            .when(col("gap") < 2097152, 3L)
            .when(col("gap") < 268435456, 4L)
            .otherwise(5L)).cast("long").as("varint_bytes"))
      val d = b.select(
        when(col("df") < 10, 1L).when(col("df") < 100, 10L)
          .when(col("df") < 1000, 100L).otherwise(1000L).as("df_decade"),
        col("df"), col("varint_bytes"))
      d.groupBy(col("df_decade"))
        .agg(count(lit(1)).cast("long").as("n_terms"),
          sum(col("df")).cast("long").as("postings"),
          (sum(col("df")) * 8).cast("long").as("raw_bytes"),
          sum(col("varint_bytes")).cast("long").as("varint_bytes"),
          (sum(col("varint_bytes")).cast("double") /
            (sum(col("df")) * 8)).as("ratio"))
  }

  // ---------------------------------------------------------------- q272
  /** Kneser-Ney smoothing statistics — the counting half of the
    * standard n-gram LM smoother (Chen–Goodman '98), which is ALL a
    * distributed engine needs to compute (the probability assembly is
    * per-query arithmetic downstream): per language, the bigram
    * count-of-count statistics n1/n2 and the absolute discount
    * D = n1/(n1 + 2·n2), plus the top-10 words by CONTINUATION count —
    * the number of distinct LEFT contexts a word follows, KN's key
    * insight ("Francisco" is frequent but follows only "San", so its
    * unigram back-off weight should be tiny; raw frequency q221-style
    * gets this wrong, continuation counts get it right).
    *
    * Everything is exact integer counting: bigram types are one
    * partial-agg distinct, continuation counts a second partial agg
    * over the TYPE frame, n1/n2 a third; D is the single emitted
    * division. The rank window sees only the vocabulary. */
  val q272KneserNey: Q = Q.sql(
    "q272_kneser_ney",
    """WITH t AS (
      |  SELECT lang, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT lang,
      |    list_extract(toks, CAST(i AS INT)) AS w1,
      |    list_extract(toks, CAST(i AS INT) + 1) AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
      |  WHERE len(toks) >= 2
      |), bc AS MATERIALIZED (
      |  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM g GROUP BY 1, 2, 3
      |), nn AS (
      |  SELECT lang,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM bc GROUP BY 1
      |), cont AS (
      |  SELECT lang, w2 AS word, CAST(COUNT(*) AS BIGINT) AS cont_count
      |  FROM bc GROUP BY 1, 2
      |), top AS (
      |  SELECT lang, word, cont_count,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY cont_count DESC, word) AS rn
      |  FROM cont
      |)
      |SELECT top.lang, word, cont_count, CAST(rn AS BIGINT) AS rnk,
      |  n1, n2,
      |  CAST(n1 AS DOUBLE) / (n1 + 2 * n2) AS discount
      |FROM top JOIN nn ON nn.lang = top.lang
      |WHERE rn <= 10""".stripMargin,
    "KN discount stats and top continuation-count words per language") {
    (s, dir) =>
      val t = docs(s, dir).select(col("lang"),
        Text.tokens(col("text")).as("toks"))
      val pairsCol = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + lit(1)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val g = t.select(col("lang"), explode(pairsCol).as("p"))
        .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      val bc = g.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("c"))
        .localCheckpoint()
      val nn = bc.groupBy(col("lang"))
        .agg(sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long")
          .as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long")
            .as("n2"))
      val cont = bc.groupBy(col("lang"), col("w2").as("word"))
        .agg(count(lit(1)).cast("long").as("cont_count"))
      val wTop = Window.partitionBy(col("lang"))
        .orderBy(col("cont_count").desc, col("word"))
      cont.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
        .join(nn, Seq("lang"))
        .select(col("lang"), col("word"), col("cont_count"),
          col("rn").cast("long").as("rnk"), col("n1"), col("n2"),
          (col("n1").cast("double") / (col("n1") + lit(2) * col("n2")))
            .as("discount"))
  }

  // ---------------------------------------------------------------- q273
  /** Bag-of-words canonical dedup — the order-insensitive axis the
    * exact family (q22) misses: two docs with the same token MULTISET
    * in a different order (shuffled boilerplate, re-ordered lists,
    * template rotations) are duplicates under the bag key
    * `md5(sort(tokens))` but not under `md5(text)`. Emits the
    * per-source dedup ledger for BOTH keys plus `extra_caught` — docs
    * an exact pass keeps that the bag pass drops, the measured value
    * of canonicalizing before hashing (Dolma/CCNet normalize-first
    * discipline).
    *
    * Scale: one map-side sort of each doc's own token array (bounded
    * by doc length, never a corpus sort), then one hash-partitioned
    * exchange per key for the two min-over-key windows; output is
    * |sources| rows. The 60-bit [[Text.baseHash]] key means both
    * shuffles carry longs, not text. */
  val q273BagDedup: Q = Q.sql(
    "q273_bag_dedup",
    """WITH c AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(array_to_string(
      |      list_sort(string_split_regex(trim(text), '\s+')), ' ')),
      |      1, 15))::BIGINT AS bag_h,
      |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS txt_h
      |  FROM documents
      |), k AS (
      |  SELECT source,
      |    doc_id = MIN(doc_id) OVER (PARTITION BY bag_h) AS bag_keep,
      |    doc_id = MIN(doc_id) OVER (PARTITION BY txt_h) AS txt_keep
      |  FROM c
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN bag_keep THEN 1 ELSE 0 END) AS BIGINT)
      |    AS bag_kept,
      |  CAST(SUM(CASE WHEN txt_keep THEN 1 ELSE 0 END) AS BIGINT)
      |    AS exact_kept,
      |  CAST(SUM(CASE WHEN txt_keep AND NOT bag_keep THEN 1 ELSE 0 END)
      |    AS BIGINT) AS extra_caught
      |FROM k GROUP BY 1""".stripMargin,
    "order-insensitive bag-of-words dedup ledger vs the exact-text key") {
    (s, dir) =>
      val c = docs(s, dir).select(col("doc_id"), col("source"),
        Text.baseHash(array_join(array_sort(Text.tokens(col("text"))), " "))
          .as("bag_h"),
        Text.baseHash(col("text")).as("txt_h"))
      val wBag = Window.partitionBy(col("bag_h"))
      val wTxt = Window.partitionBy(col("txt_h"))
      c.select(col("source"),
        (col("doc_id") === min(col("doc_id")).over(wBag)).as("bag_keep"),
        (col("doc_id") === min(col("doc_id")).over(wTxt)).as("txt_keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("bag_keep"), 1L).otherwise(0L)).cast("long")
            .as("bag_kept"),
          sum(when(col("txt_keep"), 1L).otherwise(0L)).cast("long")
            .as("exact_kept"),
          sum(when(col("txt_keep") && !col("bag_keep"), 1L).otherwise(0L))
            .cast("long").as("extra_caught"))
  }

  // ---------------------------------------------------------------- q274
  /** Per-document contamination FRACTION — the GPT-3/PaLM appendix
    * metric the boolean families don't give: for every held-out test
    * doc, what fraction of its distinct char-8-grams also occurs in
    * the train split? q89 emits overlapping PAIRS and q106 a Bloom
    * yes/no; evaluation protocols instead threshold on per-doc overlap
    * percentage ("dirty if >70% of 8-grams seen in train"), which
    * needs this exact numerator/denominator per doc.
    *
    * Scale shape: the test split is megabytes while train is the
    * 100 TB corpus, so the train side is never aggregated globally —
    * train grams are LEFT SEMI joined against the broadcast test-gram
    * set FIRST (output bounded by |test grams|), and only that bounded
    * set is distinct-ed and broadcast back for the per-doc indicator
    * join. Reuses the session-cached [[charGramIndex]] (one explode +
    * md5 pass shared with q89/q106). */
  val q274ContaminationFrac: Q = Q.sql(
    "q274_contamination_frac",
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 100 < 5 AS is_test
      |  FROM documents
      |), sh0 AS (
      |  SELECT doc_id,
      |    unnest(list_distinct([substr(text, i, 8)
      |      for i in range(1, length(text) - 6)])) AS gram
      |  FROM documents WHERE length(text) >= 8
      |), sh AS (
      |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g
      |  FROM sh0
      |), te AS (
      |  SELECT sh.doc_id AS test_doc, g
      |  FROM sh JOIN h USING (doc_id) WHERE is_test
      |), m AS (
      |  SELECT DISTINCT g FROM sh JOIN h USING (doc_id)
      |  WHERE NOT is_test AND g IN (SELECT g FROM te)
      |)
      |SELECT test_doc, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN m.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hit,
      |  CAST(SUM(CASE WHEN m.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS frac
      |FROM te LEFT JOIN m ON m.g = te.g
      |GROUP BY 1""".stripMargin,
    "per-test-doc fraction of char-8-grams present in the train split") {
    (s, dir) =>
      val sh = charGramIndex(s, dir)
      val te = sh.filter(col("is_test"))
        .select(col("doc_id").as("test_doc"), col("g"))
      val teg = te.select(col("g")).distinct()
      val matched = sh.filter(!col("is_test"))
        .join(broadcast(teg), Seq("g"), "left_semi")
        .select(col("g")).distinct()
        .withColumn("hit", lit(1L))
      te.join(broadcast(matched), Seq("g"), "left")
        .groupBy(col("test_doc"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
        .select(col("test_doc"), col("n_grams"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_grams")).as("frac"))
  }

  // ---------------------------------------------------------------- q275
  /** Quality-classifier INFERENCE at corpus scale — the fasttext-style
    * filter every production pipeline (CCNet, GPT-3 WebText classifier,
    * FineWeb-Edu) runs over 100 TB: a linear model on hashed unigram
    * features, trained on a labeled split and applied map-side. Train
    * pass: token occurrences from the 80% hash-split train docs fold
    * into 256 hashed buckets (q220's vocabulary-free trick) with
    * per-bucket (label=en) counts; the bucket weight is the CENTERED
    * SMOOTHED PRECISION in exact micro-units,
    * `w = (1e6·(pos+1)) div (pos+neg+2) − 5e5` — integer arithmetic
    * end to end, so train AND inference never touch a float (q240's
    * discipline applied to a linear scorer). Inference: each held-out
    * doc's score is the bigint sum of its tokens' bucket weights
    * (unseen buckets weigh 0 = the uninformative prior), predicted
    * positive when > 0. Emits the per-(lang, pred) confusion ledger.
    *
    * Scale: one partial-agg over train tokens (256-row output),
    * broadcast onto the eval scan, one per-doc partial agg, one
    * 8-row final agg. Nothing shuffles the corpus; the weight table
    * is bounded forever by construction. */
  val q275QualityClassifier: Q = Q.sql(
    "q275_quality_classifier",
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('qf|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 100 < 80 AS is_train,
      |    unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |), t AS (
      |  SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT % 256 AS b,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM d WHERE is_train
      |), wt AS (
      |  SELECT b,
      |    (1000000 * (SUM(y) + 1)) // (COUNT(*) + 2) - 500000 AS wgt
      |  FROM t GROUP BY 1
      |), sc AS (
      |  SELECT doc_id, lang,
      |    CAST(SUM(COALESCE(wgt, 0)) AS BIGINT) AS score
      |  FROM d LEFT JOIN wt
      |    ON wt.b = ('0x' || substr(md5(d.w), 1, 15))::BIGINT % 256
      |  WHERE NOT is_train
      |  GROUP BY 1, 2
      |)
      |SELECT lang, score > 0 AS pred,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(score) AS BIGINT) AS tot_score
      |FROM sc GROUP BY 1, 2""".stripMargin,
    "hashed-feature linear quality filter: integer train + map-side apply") {
    (s, dir) =>
      val isTrain =
        Text.baseHash(concat(lit("qf|"), col("doc_id").cast("string"))) %
          100 < 80
      val d = spreadDocs(s, dir).select(col("doc_id"), col("lang"),
        isTrain.as("is_train"),
        explode(Text.tokens(col("text"))).as("w"))
        .withColumn("b", Text.baseHash(col("w")) % 256)
      // `div` = integral division on both engines (all operands positive,
      // so Spark's truncation and DuckDB's floor `//` agree)
      val wt = d.filter(col("is_train"))
        .groupBy(col("b"))
        .agg(expr("cast((1000000 * (sum(case when lang = 'en' then 1 else 0" +
          " end) + 1)) div (count(1) + 2) - 500000 as bigint)").as("wgt"))
      val sc = d.filter(!col("is_train"))
        .join(broadcast(wt), Seq("b"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(coalesce(col("wgt"), lit(0L))).cast("long").as("score"))
      sc.groupBy(col("lang"), (col("score") > 0).as("pred"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("score")).cast("long").as("tot_score"))
  }

  // ---------------------------------------------------------------- q276
  /** Corpus novelty-decay curve — the "is more data still new data"
    * measurement behind dedup ROI and scaling-law data budgets: walk
    * the corpus in ingest order (doc_id), split into ten deciles, and
    * for each decile count how many of its word-8-gram occurrences are
    * the FIRST occurrence of that gram anywhere (novel) vs repeats of
    * grams an earlier decile already contributed. A healthy fresh
    * crawl holds novelty flat; a recrawl-heavy feed decays toward
    * zero — this one curve is the go/no-go for ingesting the next
    * 10 TB of a source.
    *
    * Exact and one-pass: gram first-sightings are `min(doc_id)` per
    * 60-bit gram hash (a single map-side-combined partial agg — the
    * same shuffle any dedup pass already pays), decile totals a second
    * tiny agg, and the cumulative column a window over ten rows. */
  val q276NoveltyCurve: Q = Q.sql(
    "q276_novelty_curve",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT AS g
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) u
      |  WHERE len(toks) >= 8
      |), mx AS (
      |  SELECT MAX(doc_id) + 1 AS n FROM documents
      |), post AS (
      |  SELECT (doc_id * 10) // n AS decile, CAST(COUNT(*) AS BIGINT) AS n_postings
      |  FROM g, mx GROUP BY 1
      |), nov AS (
      |  SELECT (MIN(doc_id) * 10) // (SELECT n FROM mx) AS decile
      |  FROM g GROUP BY g.g
      |), novc AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_novel
      |  FROM nov GROUP BY 1
      |)
      |SELECT post.decile, n_postings,
      |  CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
      |  CAST(SUM(COALESCE(n_novel, 0)) OVER (ORDER BY post.decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_novel,
      |  CAST(COALESCE(n_novel, 0) AS DOUBLE) / n_postings AS novelty_rate
      |FROM post LEFT JOIN novc ON novc.decile = post.decile""".stripMargin,
    "per-decile novel word-8-gram counts: the data-freshness decay curve") {
    (s, dir) =>
      val t = spreadDocs(s, dir).select(col("doc_id"),
        Text.tokens(col("text")).as("toks"))
      val g = t.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 7),
          i => concat_ws(" ",
            (0 until 8).map(o => element_at(col("toks"), i + lit(o))): _*)))
          .as("gram"))
        .select(col("doc_id"), Text.baseHash(col("gram")).as("g"))
      val mx = docs(s, dir).agg((max(col("doc_id")) + 1L).as("n"))
      val post = g.crossJoin(broadcast(mx))
        .select(expr("cast((doc_id * 10) div n as bigint)").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("long").as("n_postings"))
      val nov = g.groupBy(col("g"))
        .agg(min(col("doc_id")).as("first_doc"))
        .crossJoin(broadcast(mx))
        .select(expr("cast((first_doc * 10) div n as bigint)").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("long").as("n_novel"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      post.join(nov, Seq("decile"), "left")
        .select(col("decile"), col("n_postings"),
          coalesce(col("n_novel"), lit(0L)).cast("long").as("n_novel"))
        .withColumn("cum_novel", sum(col("n_novel")).over(wCum).cast("long"))
        .select(col("decile"), col("n_postings"), col("n_novel"),
          col("cum_novel"),
          (col("n_novel").cast("double") / col("n_postings"))
            .as("novelty_rate"))
  }

  // ---------------------------------------------------------------- q280
  /** Per-language quantile quality cut — the CCNet selection rule:
    * every language keeps only its docs at or above its OWN p75 of a
    * quality signal (here `n_chars`), so low-resource languages are
    * never starved by a global threshold. The threshold is the EXACT
    * order statistic (value at rank ⌈0.75·n⌉ ascending), computed from
    * the per-(lang, value) histogram + one cumulative window over the
    * BOUNDED value domain — the corpus itself is never sorted
    * (q182/q176's histogram discipline), and the cut is applied
    * map-side against the broadcast per-lang threshold row.
    *
    * Emits the per-language curation ledger: threshold, totals, kept
    * counts, kept fraction — |langs| rows. */
  val q280QuantileCut: Q = Q.sql(
    "q280_quantile_cut",
    """WITH h AS (
      |  SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2
      |), cum AS (
      |  SELECT lang, v, c,
      |    SUM(c) OVER (PARTITION BY lang ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
      |    SUM(c) OVER (PARTITION BY lang) AS n
      |  FROM h
      |), thr AS (
      |  SELECT lang, MIN(v) AS thr, MIN(n) AS n_docs
      |  FROM cum WHERE cumc >= (3 * n + 3) // 4
      |  GROUP BY 1
      |)
      |SELECT t.lang, CAST(t.n_docs AS BIGINT) AS n_docs,
      |  CAST(t.thr AS BIGINT) AS thr,
      |  CAST(SUM(CASE WHEN d.n_chars >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN d.n_chars >= t.thr THEN 1 ELSE 0 END) AS DOUBLE)
      |    / t.n_docs AS kept_frac
      |FROM documents d JOIN thr t ON t.lang = d.lang
      |GROUP BY t.lang, t.n_docs, t.thr""".stripMargin,
    "per-language exact-p75 quality cut from bounded histograms") {
    (s, dir) =>
      val h = docs(s, dir).groupBy(col("lang"), col("n_chars").as("v"))
        .agg(count(lit(1)).cast("long").as("c"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("lang"))
      val thr = h
        .withColumn("cumc", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .filter(col("cumc") >= expr("(3 * n + 3) div 4"))
        .groupBy(col("lang"))
        .agg(min(col("v")).as("thr"), min(col("n")).as("n_docs"))
      docs(s, dir).join(broadcast(thr), Seq("lang"))
        .groupBy(col("lang"), col("n_docs"), col("thr"))
        .agg(sum(when(col("n_chars") >= col("thr"), 1L).otherwise(0L))
          .cast("long").as("n_kept"))
        .select(col("lang"), col("n_docs").cast("long").as("n_docs"),
          col("thr").cast("long").as("thr"), col("n_kept"),
          (col("n_kept").cast("double") / col("n_docs")).as("kept_frac"))
  }

  // ---------------------------------------------------------------- q281
  /** Shingle CONTAINMENT pairs — Broder's second similarity measure,
    * the one resemblance (Jaccard, q23) structurally misses: when doc A
    * is quoted inside a much larger doc B, |A∩B|/|A| ≈ 1 while Jaccard
    * ≈ |A|/|B| ≈ 0, so subset-duplicates sail through every
    * resemblance threshold. Candidates come from the SAME df-cut
    * shingle inverted index as q23 (shared session cache, same skew
    * guard), but WITHOUT q23's 2× size-band prune — that prune is
    * exactly what containment must not do, since asymmetric sizes are
    * the signal. Emits both directed containments per candidate pair
    * (≥ 0.5 in either direction), with the intersection and both set
    * sizes so downstream policy can pick its own threshold.
    *
    * Scale: identical join shape to q23 — candidate fan-out bounded by
    * the df≤100 cut, one partial-agg count per pair, sizes broadcast
    * back through the same bounded frames. */
  val q281ContainmentPairs: Q = Q.sql(
    "q281_containment_pairs",
    s"""WITH sh AS (
      |  $shingleHashSql
      |), shf AS (
      |  SELECT sh.doc_id, sh.h FROM sh
      |  JOIN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= 100) f USING (h)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM shf a JOIN shf b ON b.h = a.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS i,
      |  CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb,
      |  CAST(i AS DOUBLE) / sa.sz AS cont_a,
      |  CAST(i AS DOUBLE) / sb.sz AS cont_b
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / sa.sz >= 0.5
      |   OR CAST(i AS DOUBLE) / sb.sz >= 0.5""".stripMargin,
    "directed shingle containment pairs: the subset-duplicate catcher") {
    (s, dir) =>
      val idx = shingleIndex(s, dir)
      val heavy = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 100).select(col("h"))
      val cut = idx.join(heavy, Seq("h"), "left_anti")
      val sizes = cut.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = cut.as("a")
        .join(cut.as("b"), col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      val contA = col("i").cast("double") / col("sza")
      val contB = col("i").cast("double") / col("szb")
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")),
          Seq("doc_b"))
        .filter(contA >= 0.5 || contB >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("i").cast("long").as("i"),
          col("sza").cast("long").as("sza"), col("szb").cast("long").as("szb"),
          contA.as("cont_a"), contB.as("cont_b"))
  }

  // ---------------------------------------------------------------- q283
  /** LSH banding S-curve, MEASURED — the tuning readout behind every
    * MinHash deployment (q24/q25/q29/q101/q149/q151 all ride b=4, r=3):
    * over the bounded universe of shingle-sharing pairs (the only pairs
    * with nonzero df-cut Jaccard), bucket exact Jaccard into deciles
    * and report each decile's EMPIRICAL band-collision rate next to the
    * textbook probability 1 − (1 − s^3)^4 at the decile midpoint. The
    * gap between the columns is the finite-signature / correlated-hash
    * truth the formula idealizes away — the number you actually consult
    * before changing (b, r) on 100 TB.
    *
    * Universe and collisions are both equi-join shaped (shingle index
    * with the df≤100 cut; band frame joined on band_key), every
    * aggregate partial; the output is ≤ 10 rows. The theory column is
    * explicit multiplication (s·s·s, t·t·t·t) — no pow(), bit-identical
    * on both engines. */
  val q283LshScurve: Q = Q.sql(
    "q283_lsh_scurve",
    s"""WITH sh AS (
      |  $shingleHashSql
      |), shf AS (
      |  SELECT sh.doc_id, sh.h FROM sh
      |  JOIN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= 100) f USING (h)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM shf a JOIN shf b ON b.h = a.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pj AS (
      |  SELECT doc_a, doc_b,
      |    CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |), bands AS (
      |  $minhashBandsSql
      |), coll AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b USING (band_key)
      |  WHERE a.doc_id < b.doc_id
      |), bk AS (
      |  SELECT LEAST(CAST(floor(pj.jaccard * 10) AS BIGINT), 9) AS bucket,
      |    CASE WHEN coll.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM pj LEFT JOIN coll
      |    ON coll.doc_a = pj.doc_a AND coll.doc_b = pj.doc_b
      |)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(hit) AS BIGINT) AS n_collide,
      |  CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS collide_rate,
      |  1.0 - (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |               * ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |               * ((CAST(bucket AS DOUBLE) + 0.5) / 10))
      |      * (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |              * ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |              * ((CAST(bucket AS DOUBLE) + 0.5) / 10))
      |      * (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |              * ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |              * ((CAST(bucket AS DOUBLE) + 0.5) / 10))
      |      * (1.0 - ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |              * ((CAST(bucket AS DOUBLE) + 0.5) / 10)
      |              * ((CAST(bucket AS DOUBLE) + 0.5) / 10)) AS theory
      |FROM bk GROUP BY 1""".stripMargin,
    "measured LSH banding S-curve vs the 1-(1-s^r)^b textbook curve") {
    (s, dir) =>
      val idx = shingleIndex(s, dir)
      val heavy = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 100).select(col("h"))
      val cut = idx.join(heavy, Seq("h"), "left_anti")
      val sizes = cut.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      // NO size-band prune here: q23's 2x prefilter is lossless only
      // under its >= 0.5 threshold; the S-curve needs the whole universe
      val inter = cut.as("a")
        .join(cut.as("b"), col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      val pj = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("i").cast("double") / (col("sza") + col("szb") - col("i")))
            .as("jaccard"))
      val bands = minhashBandRowsFrom(idx)
      val coll = bands.as("a")
        .join(bands.as("b"), col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .withColumn("hit", lit(1L))
      val s10 = (col("bucket").cast("double") + 0.5) / 10
      val s3 = s10 * s10 * s10
      val miss = lit(1.0) - s3
      pj.join(coll, Seq("doc_a", "doc_b"), "left")
        .select(least(floor(col("jaccard") * 10).cast("long"), lit(9L))
          .as("bucket"), coalesce(col("hit"), lit(0L)).as("hit"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("hit")).cast("long").as("n_collide"))
        .select(col("bucket"), col("n_pairs"), col("n_collide"),
          (col("n_collide").cast("double") / col("n_pairs"))
            .as("collide_rate"),
          (lit(1.0) - miss * miss * miss * miss).as("theory"))
  }

  // ---------------------------------------------------------------- q284
  /** Dedup ROI sweep — the policy question BEFORE running the dedup
    * pass: at thresholds 0.5-0.9, how many docs become droppable and
    * how many tokens does each threshold actually save? "Droppable"
    * follows the family's keep-min rule pairwise: a doc drops iff it
    * has a ≥t-similar partner with a smaller id — computed from ONE
    * per-doc aggregate (max Jaccard over smaller-id partners, off the
    * same df-cut pair universe as q283) crossed with the 5-row
    * threshold frame. Monotone by construction; the exact
    * tokens-saved column is what turns a similarity threshold into a
    * storage/compute budget decision.
    *
    * Output: 5 rows; everything after the pair partial-agg rides
    * per-doc and constant frames. */
  val q284DedupRoi: Q = Q.sql(
    "q284_dedup_roi",
    s"""WITH sh AS (
      |  $shingleHashSql
      |), shf AS (
      |  SELECT sh.doc_id, sh.h FROM sh
      |  JOIN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= 100) f USING (h)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM shf a JOIN shf b ON b.h = a.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pj AS (
      |  SELECT doc_a, doc_b,
      |    CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |), mj AS (
      |  SELECT doc_b AS doc_id, MAX(jaccard) AS maxj
      |  FROM pj GROUP BY 1
      |), tok AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM tok
      |)
      |SELECT CAST(t.t AS BIGINT) AS threshold_pct,
      |  CAST(SUM(CASE WHEN mj.maxj >= t.t / 100.0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_droppable,
      |  CAST(SUM(CASE WHEN mj.maxj >= t.t / 100.0 THEN tok.n_tokens
      |    ELSE 0 END) AS BIGINT) AS tokens_saved,
      |  CAST(SUM(CASE WHEN mj.maxj >= t.t / 100.0 THEN tok.n_tokens
      |    ELSE 0 END) AS DOUBLE) / tot.n_tokens AS token_share
      |FROM mj JOIN tok USING (doc_id), tot,
      |  (SELECT unnest([50, 60, 70, 80, 90]) AS t) t
      |GROUP BY t.t, tot.n_tokens""".stripMargin,
    "dedup ROI: droppable docs and exact token savings per threshold") {
    (s, dir) =>
      val idx = shingleIndex(s, dir)
      val heavy = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 100).select(col("h"))
      val cut = idx.join(heavy, Seq("h"), "left_anti")
      val sizes = cut.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = cut.as("a")
        .join(cut.as("b"), col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      val pj = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")),
          Seq("doc_b"))
        .select(col("doc_b").as("doc_id"),
          (col("i").cast("double") / (col("sza") + col("szb") - col("i")))
            .as("jaccard"))
      val mj = pj.groupBy(col("doc_id")).agg(max(col("jaccard")).as("maxj"))
      val tok = docs(s, dir).select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      val tot = tok.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens_tot"))
      val thr = (50 to 90 by 10).map(lit(_))
      mj.join(tok, Seq("doc_id"))
        .crossJoin(broadcast(tot))
        .select(col("maxj"), col("n_tokens"), col("n_tokens_tot"),
          explode(array(thr: _*)).as("t"))
        .groupBy(col("t"), col("n_tokens_tot"))
        .agg(sum(when(col("maxj") >= col("t") / 100.0, 1L).otherwise(0L))
          .cast("long").as("n_droppable"),
          sum(when(col("maxj") >= col("t") / 100.0, col("n_tokens"))
            .otherwise(0L)).cast("long").as("tokens_saved"))
        .select(col("t").cast("long").as("threshold_pct"),
          col("n_droppable"), col("tokens_saved"),
          (col("tokens_saved").cast("double") / col("n_tokens_tot"))
            .as("token_share"))
  }

  // ---------------------------------------------------------------- q285
  /** Vocabulary coverage curve — the tokenizer-budget planner beside
    * q140's fixed-vocab OOV rate and q113's BPE step: for candidate
    * vocabulary sizes 2⁸..2¹⁴, what share of all token OCCURRENCES do
    * the top-v types (by exact count, token-lexicographic tiebreak)
    * cover? The curve's knee is where a bigger vocab stops paying —
    * the number a tokenizer budget is chosen from.
    *
    * One partial agg collapses the corpus to the type histogram; the
    * rank window and cumulative sum ride the vocab-bounded frame — a
    * single spillable sort of TYPES, never of the corpus (q94's
    * single-reducer caveat applies if a vocabulary ever outgrows one
    * reducer; q94b's two-pass threshold draw is the respelling); 7
    * rows out. */
  val q285VocabCoverage: Q = Q.sql(
    "q285_vocab_coverage",
    """WITH t AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |), h AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1
      |), r AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk,
      |    SUM(c) OVER (ORDER BY c DESC, w
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER () AS tot,
      |    COUNT(*) OVER () AS n_types
      |  FROM h
      |)
      |SELECT CAST(v.v AS BIGINT) AS vocab_size,
      |  CAST(MAX(CASE WHEN rnk <= v.v THEN cum ELSE 0 END) AS BIGINT)
      |    AS covered,
      |  CAST(MIN(tot) AS BIGINT) AS total,
      |  CAST(MAX(CASE WHEN rnk <= v.v THEN cum ELSE 0 END) AS DOUBLE)
      |    / MIN(tot) AS coverage,
      |  CAST(MIN(n_types) AS BIGINT) AS n_types
      |FROM r, (SELECT unnest([256, 512, 1024, 2048, 4096, 8192, 16384])
      |         AS v) v
      |GROUP BY v.v""".stripMargin,
    "token-occurrence coverage of top-v vocabularies, v in 2^8..2^14") {
    (s, dir) =>
      val h = docs(s, dir)
        .select(explode(Text.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c"))
      val wRank = Window.orderBy(col("c").desc, col("w"))
      val wCum = wRank.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = Window.partitionBy()
      val r = h.select(col("c"),
        row_number().over(wRank).as("rnk"),
        sum(col("c")).over(wCum).as("cum"),
        sum(col("c")).over(wAll).as("tot"),
        count(lit(1)).over(wAll).as("n_types"))
      val vs = Seq(256, 512, 1024, 2048, 4096, 8192, 16384)
      r.select(col("rnk"), col("cum"), col("tot"), col("n_types"),
        explode(array(vs.map(lit(_)): _*)).as("v"))
        .groupBy(col("v"))
        .agg(max(when(col("rnk") <= col("v"), col("cum")).otherwise(0L))
          .cast("long").as("covered"),
          min(col("tot")).cast("long").as("total"),
          min(col("n_types")).cast("long").as("n_types"))
        .select(col("v").cast("long").as("vocab_size"), col("covered"),
          col("total"),
          (col("covered").cast("double") / col("total")).as("coverage"),
          col("n_types"))
  }

  // ---------------------------------------------------------------- q286
  /** Serving-index build manifest — the retrieval-side sibling of
    * q116's training-corpus manifest: per hash shard (md5(doc_id) % 16,
    * q93's placement), the sizes a search cluster provisions from —
    * docs, overlapping 32/16-token chunks (q97's chunking), total
    * tokens, distinct index terms, and df-cut postings (q164's ≤100
    * discipline). One corpus pass per statistic family, partial aggs
    * throughout, 16 rows out; at 100 TB each shard builds
    * independently — the manifest is the shard-placement contract. */
  val q286IndexManifest: Q = Q.sql(
    "q286_index_manifest",
    """WITH d AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 16 AS shard,
      |    string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), base AS (
      |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN len(toks) <= 32 THEN 1
      |      ELSE 1 + (len(toks) - 32 + 15) // 16 END) AS BIGINT)
      |      AS n_chunks
      |  FROM d GROUP BY 1
      |), post0 AS (
      |  SELECT shard, doc_id, unnest(list_distinct(toks)) AS term FROM d
      |), dfc AS (
      |  SELECT term FROM post0 GROUP BY term HAVING COUNT(*) <= 100
      |), post AS (
      |  SELECT shard, term FROM post0 JOIN dfc USING (term)
      |), idx AS (
      |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_postings,
      |    CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
      |  FROM post GROUP BY 1
      |)
      |SELECT base.shard, n_docs, n_tokens, n_chunks,
      |  CAST(COALESCE(n_terms, 0) AS BIGINT) AS n_terms,
      |  CAST(COALESCE(n_postings, 0) AS BIGINT) AS n_postings
      |FROM base LEFT JOIN idx ON idx.shard = base.shard""".stripMargin,
    "per-shard serving-index manifest: docs, chunks, terms, postings") {
    (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (Text.baseHash(col("doc_id").cast("string")) % 16).as("shard"),
        Text.tokens(col("text")).as("toks"))
      val nt = size(col("toks")).cast("long")
      val base = d.groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(nt).cast("long").as("n_tokens"),
          sum(when(nt <= 32L, 1L)
            .otherwise(lit(1L) + expr(
              "(size(toks) - 32 + 15) div 16"))).cast("long")
            .as("n_chunks"))
      val post0 = d.select(col("shard"), col("doc_id"),
        explode(array_distinct(col("toks"))).as("term"))
      val dfc = post0.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100).select(col("term"))
      val post = post0.join(dfc, Seq("term"))
      val idx = post.groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n_postings"),
          countDistinct(col("term")).cast("long").as("n_terms"))
      base.join(idx, Seq("shard"), "left")
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("n_chunks"),
          coalesce(col("n_terms"), lit(0L)).cast("long").as("n_terms"),
          coalesce(col("n_postings"), lit(0L)).cast("long")
            .as("n_postings"))
  }

  val all: Seq[Q] = Seq(
    q20DocStats, q21LangId, q22ExactDedup, q23NgramJaccard, q24MinhashBands,
    q25MinhashDedup, q26Simhash, q27SimhashPairs, q28Fingerprint,
    q29DedupClusters, q44KmvDistinct, q46CleanCorpus, q76StratifiedSample,
    q102KmvOverlap,
    q79Tfidf, q87SeqPack, q88Repetition, q89Contamination, q93ShuffleShard,
    q94TokenBudget, q94bThresholdDraw, q97ChunkOverlap, q98WinnowFingerprint,
    q105HeavyHitters, q106BloomDecontaminate, q107LineDedup, q108CmsFrequency,
    q109CosinePairs, q110ImportanceScore, q113BpeMergeRank, q116CorpusBuild,
    q119CurationBySource, q120MixtureWeights, q132TypoPairs, q135Collocations,
    q136Redact, q140OovRate, q141LexicalStats, q144PpsSample, q149LeakageSplit,
    q150SnapshotDiff, q151HardNegatives, q154LexicalSearch,
    q164PostingsIndex, q166HllDistinct, q183BpeApply, q185ShardedPostings,
    q195SortedNeighborhood, q197PrefixJaccard, q205DupSpans,
    q206MixtureResample, q219Chi2Features, q220FeatureHashing,
    q221BigramLmEval, q224RendezvousShards, q228GoodTuring, q246TextRank, q265PostingsSize, q272KneserNey,
    q273BagDedup, q274ContaminationFrac, q275QualityClassifier,
    q276NoveltyCurve, q280QuantileCut, q281ContainmentPairs,
    q283LshScurve, q284DedupRoi, q285VocabCoverage, q286IndexManifest)
}
