package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N× blow-up of a driver sf directory into RAM scratch —
  * the measurement fixture for the scaling-exponent table in BASELINE.md
  * (round-6 item: convert the "survives 100×" stance from plan-shape
  * argument to measurement).
  *
  * Replica 0 is the original data verbatim. Replica i shifts every
  * entity key by i·10⁷ — consistently across FK pairs (customer↔orders,
  * orders↔lineitem, part/supplier↔lineitem), so each replica is a
  * structurally intact copy and replicas are entity-disjoint — and
  * prefixes every document token with `r<i>`, so text-similarity
  * structure WITHIN a replica is preserved bijectively (word-shingle
  * sets map 1:1, Jaccard values unchanged) while replicas stay lexically
  * disjoint. This is the corpus-growth model where new data brings new
  * games/users/documents and new vocabulary, not longer rows — the way
  * a 100 TB corpus actually differs from a 10 TB one.
  *
  * Dimensions (region, nation) are copied unscaled, like the small dims
  * they model. Output lands under [[graft.Scratch]] (tmpfs) so the
  * subsequent Profile run touches no host-volume I/O.
  *
  * Run: {{{
  *   GRAFT_SCALE_FACTOR=10 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.ScaleUp"
  * }}}
  */
object ScaleUp {
  private val Off = 10000000L

  /** Hot-key id base for the zipf overlay — above any replica-shifted
    * user_id (max ≈ factor·10⁷) at every supported factor. */
  private val HotBase = 5000000000L

  /** `GRAFT_SCALE_SKEW=zipf`: overlay a deterministic hot-key skew on
    * `events.user_id` — the one axis the uniform replica blow-up never
    * exercises (replicas are key-disjoint, so per-key cardinality stays
    * CONSTANT as the corpus grows; q45's salting and AQE's skew-join
    * split only matter when a key's mass grows WITH the data).
    *
    * Scheme: rows with even event_id (half the corpus) remap user_id to
    * hot key `HotBase + (10 − floor(log2((event_id mod 1024) + 1)))` —
    * halving mass per rank, i.e. hot rank 1 carries 50% of the overlaid
    * half (25% of ALL events) at every scale, rank 2 25%, … a
    * geometric/Zipf-s≈1 head over eleven keys (ranks 0..10) whose
    * per-key row count grows LINEARLY with the corpus. A pure function
    * of event_id:
    * deterministic, replayable closed-form by DuckDB, and identical in
    * distribution at every factor so exponents compare like with like. */
  private def zipfUser(df: DataFrame): DataFrame =
    df.withColumn("user_id",
      when(pmod(col("event_id"), lit(2)) === 0,
        lit(HotBase) + (lit(10) -
          floor(log2(pmod(col("event_id"), lit(1024)) + 1))).cast("long"))
        .otherwise(col("user_id")))

  /** `GRAFT_SCALE_SKEW=zipftext`: overlay a deterministic hot-SHINGLE
    * skew on `documents` — the text-join analog of the events overlay
    * (round-9 item: the df-cut is the CLAIMED skew guard for the
    * pair-universe joins q23/q281/q283/q284, argued but unmeasured; the
    * streaming analog of exactly this gap is where q279's 223× hid).
    * Even doc_ids get a 12-token phrase appended whose rank follows the
    * same halving-mass scheme as [[zipfUser]]: rank 1's phrase sits in
    * 25% of ALL documents at every factor, rank 2 12.5%, … — so every
    * word-shingle inside a hot phrase is shared by a constant FRACTION
    * of the corpus (the uniform fixture's replica-prefixed tokens are
    * lexically disjoint by construction and can never produce one).
    * Applied AFTER replica prefixing, so hot shingles are global. */
  private def zipfText(df: DataFrame): DataFrame = {
    val rank = (lit(10) -
      floor(log2(pmod(col("doc_id"), lit(1024)) + 1))).cast("long")
    val phrase = concat_ws(" ", (0 until 12).map(i =>
      concat(lit("zzh"), rank, lit("w" + i))): _*)
    df.withColumn("text",
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat_ws(" ", col("text"), phrase)).otherwise(col("text")))
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("GRAFT_SCALE_FACTOR", "10").toInt
    val skew = sys.env.get("GRAFT_SCALE_SKEW") // "zipf" | "zipftext" | unset
    // HotBase clears replica-shifted user_ids (max ≈ factor·10⁷) only
    // while factor < 500 — beyond that a hot key would silently alias a
    // real shifted user and corrupt the overlay's closed-form oracle
    require(!skew.contains("zipf") || factor < 500,
      s"GRAFT_SCALE_SKEW=zipf requires factor < 500 (got $factor): " +
        s"hot-key base $HotBase must stay above every shifted user_id")
    val dst = args.headOption
      .getOrElse(s"${graft.Scratch.root}/graft-sf-x$factor" +
        skew.map("-" + _).getOrElse(""))
    val spark = graft.Session.build()

    def t(n: String): DataFrame = graft.Tables(spark, src, n)
    def reps(base: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(base, i * Off)).reduce(_.unionByName(_))
    // single FILE per table, like the driver's layout — the streaming
    // file source globs on the literal `events.parquet` name, so a
    // directory-valued table would not match
    def w(df: DataFrame, n: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val tmp = s"$dst/_stage_$n"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(dst))
      Files.move(part.toPath, Paths.get(s"$dst/$n.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    def bump(cols: String*)(df: DataFrame, o: Long): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + o))

    w(t("region"), "region")
    w(t("nation"), "nation")
    w(reps(t("customer"))(bump("c_custkey")), "customer")
    w(reps(t("supplier"))(bump("s_suppkey")), "supplier")
    w(reps(t("part"))(bump("p_partkey")), "part")
    w(reps(t("orders"))(bump("o_orderkey", "o_custkey")), "orders")
    w(reps(t("lineitem"))(bump("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem")
    val eventsScaled = reps(t("events"))(bump("event_id", "user_id"))
    w(if (skew.contains("zipf")) zipfUser(eventsScaled) else eventsScaled,
      "events")
    val docsScaled = reps(t("documents")) { (d, o) =>
      val shifted = bump("doc_id")(d, o)
      if (o == 0L) shifted
      else shifted.withColumn("text",
        concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
          tok => concat(lit("r" + (o / Off)), tok))))
    }
    w(if (skew.contains("zipftext")) zipfText(docsScaled) else docsScaled,
      "documents")
    w(reps(t("embeddings"))(bump("vec_id")), "embeddings")

    val rows = graft.Tables.names
      .map(n => s"$n=${spark.read.parquet(s"$dst/$n.parquet").count()}")
    println(s"[scale-up] ${factor}x of $src -> $dst  ${rows.mkString(" ")}")
    if (skew.contains("zipf")) {
      // verifiable overlay audit: per-hot-key counts (halving by rank)
      val hot = spark.read.parquet(s"$dst/events.parquet")
        .filter(col("user_id") >= HotBase)
        .groupBy(col("user_id")).count().orderBy(col("user_id"))
        .collect().map(r => s"${r.getLong(0) - HotBase}:${r.getLong(1)}")
      println(s"[scale-up] zipf hot-key counts  ${hot.mkString(" ")}")
    }
    if (skew.contains("zipftext")) {
      // overlay audit: docs carrying each hot phrase (halving by rank)
      val hot = spark.read.parquet(s"$dst/documents.parquet")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .groupBy((lit(10) - floor(log2(pmod(col("doc_id"), lit(1024)) + 1)))
          .cast("long").as("rank"))
        .count().orderBy(col("rank"))
        .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}")
      println(s"[scale-up] zipftext hot-phrase doc counts  ${hot.mkString(" ")}")
    }
    spark.stop()
  }
}
