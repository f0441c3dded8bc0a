package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewKeys

/** The skew_report → targeted-salting wiring: hot keys are DISCOVERED
  * from the per-key grouped count, the salt must engage exactly on
  * the above-threshold keys (never the cold majority), and salting
  * must not change the join's answer.
  */
class SkewKeysSpec extends SparkTestBase {

  test("discover returns exactly the above-threshold keys, heaviest first") {
    import spark.implicits._
    // keys: 1×100, 2×50, 3..10 ×5 each → mean per key = 19.
    val rows = Seq.fill(100)(1L) ++ Seq.fill(50)(2L) ++
      (3L to 10L).flatMap(k => Seq.fill(5)(k))
    val df = rows.toDF("k")
    // 2× mean = 38 → exactly {1 (100), 2 (50)}, heaviest first.
    assert(SkewKeys.discover(df, col("k"), 8, 2000L) == Seq(1L, 2L))
    // Bounded collect: the cap truncates after the heaviest.
    assert(SkewKeys.discover(df, col("k"), 1, 2000L) == Seq(1L))
    // Uniform data: nothing qualifies — salting must NOT engage
    // (blanket salting measured slower than naive: SCALE.md "Skew").
    val uni = (1L to 10L).flatMap(k => Seq.fill(10)(k)).toDF("k")
    assert(SkewKeys.discover(uni, col("k"), 8, 1500L).isEmpty)
  }

  test("fixture discovery engages exactly on above-threshold custkeys") {
    val counts = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getAs[Number](1).longValue()))
    val mean = counts.map(_._2).sum.toDouble / counts.length
    val expected = counts
      .filter(t => t._2 * 1000 >= mean * 1500)
      .sortBy(t => (-t._2, t._1))
      .take(8).map(_._1).toSeq
    val got = SkewKeys.hotOrderCustkeys(spark, sfDir)
    assert(got == expected,
      s"discovered $got but brute-force threshold selects $expected")
    assert(got.nonEmpty,
      "fixture has above-threshold customers; discovery found none")
  }

  test("discover ≡ brute force on random count multisets") {
    // Randomized differential (the CanonicalPropsSpec pattern): for
    // arbitrary per-key multiplicities, the distributed discovery
    // must select exactly the keys a driver-side brute force selects,
    // in the same (count desc, key asc) order, cap applied last.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val multiGen: Gen[Map[Long, Int]] = for {
      nKeys <- Gen.choose(1, 20)
      counts <- Gen.listOfN(nKeys, Gen.choose(1, 40))
    } yield counts.zipWithIndex
      .map { case (c, k) => k.toLong -> c }.toMap
    val params = Gen.Parameters.default
    val samples = (0 until 25)
      .flatMap(i => multiGen.apply(params, Seed(4242L + i)).toSeq)
    assert(samples.size >= 20)
    samples.zipWithIndex.foreach { case (m, si) =>
      val rows = m.toSeq.flatMap { case (k, c) => Seq.fill(c)(k) }
      val mean = rows.size.toDouble / m.size
      for (factorX1000 <- Seq(1000L, 1500L, 2500L); cap <- Seq(2, 8)) {
        val expected = m.toSeq
          .filter { case (_, c) => c * 1000 >= mean * factorX1000 }
          .sortBy { case (k, c) => (-c, k) }
          .take(cap).map(_._1)
        val got = SkewKeys.discover(
          rows.toDF("k"), col("k"), cap, factorX1000)
        assert(got == expected,
          s"sample $si factor=$factorX1000 cap=$cap: " +
            s"got $got expected $expected (counts=$m)")
      }
    }
  }

  test("targeted salting does not change the join's answer") {
    val salted = SparkEntry.queries("join_salted_targeted")(spark, sfDir)
      .collect().toSeq
    val plain = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(graft.operators.Money.cents(col("o_totalprice")))
          .as("totalprice_cents"))
      .orderBy("c_mktsegment")
      .collect().toSeq
    assert(salted == plain)
  }
}
