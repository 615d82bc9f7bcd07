package graft

import graft.queries.{Domain, Graphs, Relational}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 closing-stretch additions that
  * the oracle hash can't state on its own: CF recommendations must
  * exclude owned items (q250), modularity must be internally consistent
  * and bounded (q256), the double sweep's second eccentricity must
  * dominate the first (q259), the anonymization ladder must certify
  * k ≥ 5 on every released level and lose no rows (q260), the PR curve
  * must be monotone in the right directions with a reconciling AP
  * (q268), the token bucket must stay within [0, cap] with per-user
  * rank permutations (q269), and sequential-pattern supports must obey
  * the a-priori property against their own pair marginals (q249).
  */
class Round8cSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("q250: no recommendation is an owned brand; ranks are 1..k") {
    val rec = Relational.q250ItemItemCf.run(spark, dir).collect()
    assert(rec.nonEmpty)
    val owned = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("p_partkey") === col("l_partkey"))
      .select(col("o_custkey").cast("long").as("u"), col("p_brand"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[String]("p_brand"))).toSet
    rec.foreach { r =>
      assert(!owned.contains(
        (r.getAs[Long]("custkey"), r.getAs[String]("rec"))),
        s"recommended an owned brand to ${r.getAs[Long]("custkey")}")
    }
    rec.groupBy(_.getAs[Long]("custkey")).foreach { case (u, rows) =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ==
        (1L to rows.length.toLong), s"rank gap for customer $u")
    }
  }

  test("q256: modularity ledger is consistent and Q is bounded") {
    val m = Domain.q256Modularity.run(spark, dir).collect()
    assert(m.nonEmpty)
    val q = m.map(_.getAs[Double]("contribution")).sum
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of range")
    m.foreach { r =>
      assert(r.getAs[Long]("intra_w") <= r.getAs[Long]("degree_w"),
        "intra-community weight exceeded community degree")
    }
  }

  test("q259: the second sweep dominates the first eccentricity") {
    val r = Graphs.q259DiameterSweep.run(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("diameter_lb") >=
      r.head.getAs[Long]("ecc_seed"),
      "double sweep produced a shorter eccentricity than its seed")
    assert(r.head.getAs[Long]("reached") > 0)
  }

  test("q260: every released level certifies k>=5; no rows lost") {
    val l = Relational.q260AnonLadder.run(spark, dir).collect()
    val total = Tables(spark, dir, "events").count()
    assert(l.map(_.getAs[Long]("n_rows")).sum == total,
      "ladder lost or duplicated rows")
    l.filter(r => r.getAs[Long]("level") < 3 && r.getAs[Long]("n_cells") > 0)
      .foreach { r =>
        assert(r.getAs[Long]("min_cell") >= 5,
          s"level ${r.getAs[Long]("level")} released a cell below k")
      }
  }

  test("q268: PR curve is monotone where it must be and AP reconciles") {
    val pr = Relational.q268PrCurve.run(spark, dir)
      .orderBy(col("threshold").desc).collect()
    assert(pr.length > 3)
    pr.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("tp") >= a.getAs[Long]("tp"))
      assert(b.getAs[Double]("recall") >= a.getAs[Double]("recall") - 1e-15)
      assert(b.getAs[Double]("ap_so_far") >=
        a.getAs[Double]("ap_so_far") - 1e-15)
    }
    pr.foreach { r =>
      // tp = 0 at a top threshold is legal (an all-negative bucket)
      val p = r.getAs[Double]("precision")
      assert(p >= 0 && p <= 1.0)
    }
    // AP reconciliation: recompute naively from the emitted rows
    var prevR = 0.0; var ap = 0.0
    pr.foreach { r =>
      ap += (r.getAs[Double]("recall") - prevR) * r.getAs[Double]("precision")
      prevR = r.getAs[Double]("recall")
    }
    assert(math.abs(ap - pr.last.getAs[Double]("ap_so_far")) < 1e-9,
      "running AP does not reconcile with the naive recomputation")
  }

  test("q269: bucket level stays in [0, cap]; per-user rn is a permutation") {
    val d = graft.queries.StreamingQ.q269TokenBucket.run(spark, dir)
      .collect()
    assert(d.nonEmpty)
    val cap = graft.streaming.StreamingTokenBucket.Cap
    d.foreach { r =>
      val t = r.getAs[Long]("tokens_after")
      assert(t >= 0 && t <= cap, s"bucket level $t out of range")
    }
    d.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rows) =>
      assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq ==
        (1L to rows.length.toLong), s"rn gap for user $u")
    }
  }

  test("q249: triple support obeys the a-priori property vs pair support") {
    val tri = Relational.q249SeqPatterns.run(spark, dir).collect()
      .map(r => ((r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[String]("c")), r.getAs[Long]("support"))).toMap
    assert(tri.nonEmpty)
    // support(a,b,c) can never exceed support(a,b,<any c'>) summed is
    // weak; the sharp check: support(a,b,c) <= support over the PREFIX
    // pair computed the same greedy way — recompute pairs directly
    val ev = Tables(spark, dir, "events")
      .select(col("user_id").as("u"), col("event_type").as("t"),
        unix_micros(col("ts")).as("tu"))
    val e1 = ev.groupBy(col("u"), col("t").as("a"))
      .agg(min(col("tu")).as("t1"))
    val e2 = ev.join(e1, Seq("u")).filter(col("tu") > col("t1"))
      .groupBy(col("u"), col("a"), col("t").as("b"))
      .agg(min(col("tu")).as("t2"))
    val pair = e2.groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
      .collect()
      .map(r => ((r.getAs[String]("a"), r.getAs[String]("b")),
        r.getAs[Long]("s"))).toMap
    tri.foreach { case ((a, b, c), s) =>
      assert(s <= pair.getOrElse((a, b), 0L),
        s"triple ($a,$b,$c) support $s exceeds its prefix pair")
    }
  }
}
