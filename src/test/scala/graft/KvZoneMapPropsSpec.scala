package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.sources._

import graft.sources.{KvSnapshots, KvZoneMap}

/** Randomized SOUNDNESS differential for the zone-map skip: on
  * generated files (key multisets incl. nulls, empty files) with
  * stats computed exactly as the writer computes them, whenever
  * `mayMatch` says SKIP there must be NO row in the file satisfying
  * the filter conjunction row-wise (via the same KvKeyPredicate the
  * reader applies), and whenever `mayMatchKeys` says SKIP no file key
  * may be in the runtime set. The reverse direction (keep ⇒ match
  * exists) is deliberately NOT asserted — the envelope is allowed to
  * keep; it is never allowed to skip a match. Also pins the manifest
  * stats round-trip on arbitrary stats (incl. the '-' known-keyless
  * markers) and the bucket function's range/agreement contract.
  * Fixed seeds, CanonicalPropsSpec pattern.
  */
class KvZoneMapPropsSpec extends SparkTestBase {

  private val keyGen: Gen[Option[Long]] = Gen.frequency(
    (8, Gen.chooseNum(-50L, 50L).map(Some(_))),
    (1, Gen.const(None)))

  private def fileGen: Gen[Seq[Option[Long]]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, keyGen))

  private val filterGen: Gen[Filter] = Gen.oneOf(
    Gen.chooseNum(-60L, 60L).map(v => EqualTo("key", Long.box(v))),
    Gen.chooseNum(-60L, 60L).map(v => GreaterThan("key", Long.box(v))),
    Gen.chooseNum(-60L, 60L)
      .map(v => GreaterThanOrEqual("key", Long.box(v))),
    Gen.chooseNum(-60L, 60L).map(v => LessThan("key", Long.box(v))),
    Gen.chooseNum(-60L, 60L)
      .map(v => LessThanOrEqual("key", Long.box(v))),
    Gen.const(IsNotNull("key")))

  private def filtersGen: Gen[Array[Filter]] =
    Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, filterGen).map(_.toArray))

  /** The writer's stat derivation, reproduced for generated files. */
  private def statOf(keys: Seq[Option[Long]]): KvSnapshots.KvFileStat = {
    val ks = keys.flatten
    KvSnapshots.KvFileStat("f.jsonl", keys.size.toLong,
      if (ks.isEmpty) None else Some(ks.min),
      if (ks.isEmpty) None else Some(ks.max),
      keysKnown = true)
  }

  private def cases[T](g: Gen[T], seedBase: Long, n: Int): Seq[T] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => g.apply(params, Seed(seedBase + i)).toSeq)
  }

  test("mayMatch skip is sound: no skipped file holds a matching row") {
    val fs = cases(fileGen, 4100L, 200)
    val preds = cases(filtersGen, 5200L, 200)
    var skips = 0
    fs.zip(preds).foreach { case (keys, filters) =>
      val stat = statOf(keys)
      if (!KvZoneMap.mayMatch(stat, filters)) {
        skips += 1
        val survivor = keys.find(k =>
          graft.sources.KvKeyPredicate.eval(filters, k))
        assert(survivor.isEmpty,
          s"zone map skipped a file containing matching key " +
            s"$survivor under ${filters.mkString(", ")} (stat $stat)")
      }
    }
    assert(skips > 10, s"generator never exercised the skip path ($skips)")
  }

  test("mayMatchKeys skip is sound against exact membership") {
    val fs = cases(fileGen, 6300L, 200)
    val sets = cases(
      Gen.chooseNum(0, 5).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-50L, 50L)).map(_.toSet)),
      7400L, 200)
    var skips = 0
    fs.zip(sets).foreach { case (keys, set) =>
      val stat = statOf(keys)
      if (!KvZoneMap.mayMatchKeys(stat, set)) {
        skips += 1
        val present = keys.flatten.toSet.intersect(set)
        assert(present.isEmpty,
          s"runtime envelope skipped a file holding $present of $set")
      }
    }
    assert(skips > 10, s"generator never exercised the skip path ($skips)")
  }

  test("unknown stats are never skipped, whatever the predicate") {
    val unknown = KvSnapshots.KvFileStat(
      "m.jsonl", -1L, None, None, keysKnown = false)
    cases(filtersGen, 8500L, 100).foreach { filters =>
      assert(KvZoneMap.mayMatch(unknown, filters))
    }
    assert(KvZoneMap.mayMatchKeys(unknown, Set(1L, 2L)))
  }

  test("manifest stats round-trip on generated stat vectors") {
    val statGen: Gen[KvSnapshots.KvFileStat] = for {
      i <- Gen.chooseNum(0, 999999)
      known <- Gen.oneOf(true, false)
      rows <- if (known) Gen.chooseNum(0L, 1000L) else Gen.const(-1L)
      mn <- Gen.chooseNum(-50L, 50L)
      span <- Gen.chooseNum(0L, 40L)
      keyless <- Gen.oneOf(true, false)
    } yield KvSnapshots.KvFileStat(
      f"f$i%06d.jsonl", rows,
      if (known && !keyless) Some(mn) else None,
      if (known && !keyless) Some(mn + span) else None,
      keysKnown = known)
    val d = SparkTestBase.tempDir("graft_zm_props").toString
    (0 until 20).foreach { i =>
      val stats = cases(statGen, 9600L + 37L * i, 8)
        .groupBy(_.name).map(_._2.head).toSeq // names unique per manifest
      val v = KvSnapshots.commit(d, stats)
      assert(KvSnapshots.membersWithStats(d, v).toSet === stats.toSet,
        s"round-trip mismatch at v$v")
    }
  }

  test("bucket function: range, floorMod negatives, writer agreement") {
    cases(Gen.zip(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue),
      Gen.chooseNum(1, 64)), 1700L, 300).foreach { case (k, n) =>
      val b = graft.sources.KvBucketing.bucketOf(k, n)
      assert(b >= 0 && b < n, s"bucketOf($k, $n) = $b out of range")
      // the V2 function the catalog serves must agree exactly
      val bound = new graft.sources.KvBucketBound
      assert(bound.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(n, k)) === b)
    }
  }
}
