package graft

import graft.queries.{Embeddings, Graphs, Relational}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 back-half additions that the
  * oracle hash compare can't see on its own: the KM curve must be a
  * non-increasing survival function with a consistent risk ledger
  * (q236), MMR must pick 5 DISTINCT results per probe led by the pure
  * relevance argmax (q238), the PAV fit must actually be monotone and
  * mass-preserving (q242), Naive Bayes cell accounting must reconcile
  * (q240), the bootstrap replica ranking must be a permutation (q241),
  * split-finding child counts must tile the parent (q235), and the
  * zone maps must never skip a file containing a match (q237 — the
  * data-skipping soundness property).
  */
class Round8bSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("q236: survival is non-increasing and the risk ledger reconciles") {
    val km = Relational.q236KaplanMeier.run(spark, dir)
      .orderBy(col("t_hours")).collect()
    assert(km.length > 5)
    // S(t) non-increasing, in (0, 1]
    km.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Double]("survival") <= a.getAs[Double]("survival") + 1e-15,
        s"survival increased at t=${b.getAs[Long]("t_hours")}")
    }
    assert(km.head.getAs[Double]("survival") <= 1.0)
    // n_risk(t_{i+1}) = n_risk(t_i) - d_i - c_i (everyone leaves at
    // their observed time; no re-entry)
    km.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_risk") ==
        a.getAs[Long]("n_risk") - a.getAs[Long]("events") -
          a.getAs[Long]("censored"),
        s"risk ledger broke at t=${b.getAs[Long]("t_hours")}")
    }
  }

  test("q238: five distinct picks per probe, rank 1 = relevance argmax") {
    val mmr = Embeddings.q238MmrRerank.run(spark, dir).collect()
    val byProbe = mmr.groupBy(_.getAs[Long]("probe"))
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (probe, rows) =>
      val picks = rows.map(_.getAs[Long]("picked"))
      assert(picks.distinct.length == picks.length,
        s"probe $probe picked a duplicate")
      assert(rows.map(_.getAs[Long]("mmr_rank")).sorted.toSeq ==
        (1L to rows.length.toLong), s"probe $probe rank gap")
      // rank-1 score must be the max simq among candidates — every
      // later pick's (penalized) score can only be lower
      val first = rows.find(_.getAs[Long]("mmr_rank") == 1L).get
      rows.filter(_.getAs[Long]("mmr_rank") > 1L).foreach { r =>
        assert(r.getAs[Double]("score") <= first.getAs[Double]("score"),
          s"probe $probe: penalized score above the relevance argmax")
      }
    }
  }

  test("q242: PAV blocks are monotone and preserve total mass") {
    val raw = Relational.q242IsotonicPav.run(spark, dir)
      .orderBy(col("block")).collect()
    assert(raw.nonEmpty)
    raw.sliding(2).foreach {
      case Array(a, b) =>
        // exact integer cross-compare, the query's own discipline
        assert(a.getAs[Long]("pos") * b.getAs[Long]("n") <=
          b.getAs[Long]("pos") * a.getAs[Long]("n"),
          "isotonic fit not monotone")
      case _ => ()
    }
    // pooled mass = corpus mass (nothing lost in 9 rounds)
    val n = raw.map(_.getAs[Long]("n")).sum
    val pos = raw.map(_.getAs[Long]("pos")).sum
    val u = Tables(spark, dir, "events")
      .where(col("event_type").isin("purchase", "click") &&
        col("value").isNotNull)
    assert(n == u.count())
    assert(pos == u.where(col("event_type") === "purchase").count())
  }

  test("q240: cell accounting reconciles and covers the held-out set") {
    val cells = Relational.q240NaiveBayes.run(spark, dir).collect()
    assert(cells.nonEmpty)
    cells.foreach { r =>
      val n = r.getAs[Long]("n_test"); val p = r.getAs[Long]("pos_actual")
      val c = r.getAs[Long]("n_correct")
      assert(p >= 0 && p <= n)
      assert(c == (if (r.getAs[String]("pred") == "purchase") p else n - p))
    }
  }

  test("q241: replica ranking is a permutation and means reconcile") {
    val reps = Relational.q241BootstrapCi.run(spark, dir).collect()
    assert(reps.length == Relational.BootstrapReplicas)
    assert(reps.map(_.getAs[Long]("rnk")).sorted.toSeq ==
      (1L to reps.length.toLong))
    reps.foreach { r =>
      assert(r.getAs[Double]("mean_value") ==
        (r.getAs[Long]("sum_cents").toDouble / r.getAs[Long]("n")) / 100)
    }
  }

  test("q235: every split's children tile the parent exactly") {
    val splits = Relational.q235SplitFinding.run(spark, dir).collect()
    assert(splits.nonEmpty)
    val nTot = splits.head.getAs[Long]("n_l") + splits.head.getAs[Long]("n_r")
    val pTot = splits.head.getAs[Long]("pos_l") + splits.head.getAs[Long]("pos_r")
    splits.foreach { r =>
      assert(r.getAs[Long]("n_l") + r.getAs[Long]("n_r") == nTot)
      assert(r.getAs[Long]("pos_l") + r.getAs[Long]("pos_r") == pTot)
      assert(r.getAs[Double]("gain") >= -1e-15,
        "Gini gain of a binary split cannot be negative")
    }
    assert(splits.map(_.getAs[Long]("rnk")).sorted.toSeq ==
      (1L to splits.length.toLong))
  }

  test("q237: zone maps never skip rows a predicate matches (soundness)") {
    val audit = Relational.q237ZoneMapAudit.run(spark, dir).collect()
    assert(audit.length == 6)
    audit.foreach { r =>
      assert(r.getAs[Long]("rows_scanned") >= r.getAs[Long]("rows_matched"),
        s"${r.getAs[String]("layout")}/${r.getAs[String]("predicate")}: " +
          "skipped a file containing matches")
      assert(r.getAs[Long]("files_scanned") <= r.getAs[Long]("files_total"))
    }
    // every layout must agree on HOW MANY rows actually match
    audit.groupBy(_.getAs[String]("predicate")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rows_matched")).distinct.length == 1,
        "layouts disagree on the ground-truth match count")
    }
  }

  test("q239: seed distances satisfy the triangle step bound") {
    val d = Graphs.q239HarmonicCloseness.run(spark, dir).collect()
    assert(d.nonEmpty)
    d.foreach { r =>
      Seq("d1", "d2", "d3").foreach { c =>
        val v = r.getAs[java.lang.Long](c)
        if (v != null)
          assert(v >= 0 && v <= Graphs.ClosenessRounds,
            s"distance $c=$v outside BFS horizon")
      }
      val h = r.getAs[Double]("harmonic")
      assert(h >= 0 && h <= 3.0, s"harmonic $h out of range")
    }
  }

  test("q239: BFS runs to its fixpoint, 5 hops from a seed at sf0.01") {
    // a cap of 4 silently dropped the fifth level (4 vertices scored wrong)
    val d = Graphs.q239HarmonicCloseness.run(spark, dir.replace("sf0.001", "sf0.01"))
      .selectExpr("greatest(d1, d2, d3) AS far").collect().map(_.getLong(0))
    assert(d.max == 5L, s"farthest seed distance ${d.max}, expected 5")
  }
}
