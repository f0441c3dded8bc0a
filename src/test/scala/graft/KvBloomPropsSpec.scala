package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KvBloom

/** Property sweeps for the bloom sidecar (KvBloom.scala), the
  * KvSchemaPropsSpec pattern applied to the round-16 addition:
  *
  *  1. NO FALSE NEGATIVES, ever — for random value sets of random
  *     sizes, every inserted value tests positive after a full
  *     build → write → read round trip (a false negative is the one
  *     failure mode that silently DROPS ROWS through file skipping).
  *  2. Hostile sidecar bytes NEVER throw and never skip: random
  *     mutations (truncation, bit flips, junk lines) of a valid
  *     sidecar read as None or as a map that still satisfies the
  *     no-false-negative contract for columns it retains.
  */
class KvBloomPropsSpec extends AnyFunSuite {

  private val Trials = 200

  test(s"$Trials random round trips: zero false negatives") {
    val rnd = new scala.util.Random(0xB100F5EEDL)
    val dir = SparkTestBase.tempDir("graft_bloom_props")
    (1 to Trials).foreach { trial =>
      val n = 1 + rnd.nextInt(2000)
      val strings = Vector.fill(n)(
        rnd.alphanumeric.take(1 + rnd.nextInt(24)).mkString)
      val longs = Vector.fill(n)(rnd.nextLong())
      val bs = new KvBloom.Builder
      strings.foreach(s => bs.add(KvBloom.hashString(s)))
      val bl = new KvBloom.Builder
      longs.foreach(v => bl.add(KvBloom.hashLong(v)))
      val f = dir.resolve(s"t$trial.jsonl.bloom")
      KvBloom.writeSidecar(f,
        Map(2 -> bs.result().get, 7 -> bl.result().get))
      val back = KvBloom.readSidecar(f).getOrElse(
        fail(s"trial $trial: round trip unreadable"))
      strings.foreach { s =>
        assert(back(2).mightContain(KvBloom.hashString(s)),
          s"trial $trial: FALSE NEGATIVE for string '$s'")
      }
      longs.foreach { v =>
        assert(back(7).mightContain(KvBloom.hashLong(v)),
          s"trial $trial: FALSE NEGATIVE for long $v")
      }
    }
  }

  test(s"$Trials hostile mutations: never throw, never false-negative") {
    val rnd = new scala.util.Random(0xD15EA5E)
    val dir = SparkTestBase.tempDir("graft_bloom_hostile")
    val values = Vector.tabulate(500)(i => s"val-$i")
    val b = new KvBloom.Builder
    values.foreach(s => b.add(KvBloom.hashString(s)))
    val clean = dir.resolve("clean.jsonl.bloom")
    KvBloom.writeSidecar(clean, Map(2 -> b.result().get))
    val bytes = Files.readAllBytes(clean)
    (1 to Trials).foreach { trial =>
      val mutated = rnd.nextInt(4) match {
        case 0 => bytes.take(rnd.nextInt(bytes.length)) // truncate
        case 1 => // flip a byte
          val c = bytes.clone()
          c(rnd.nextInt(c.length)) =
            (c(rnd.nextInt(c.length)) ^ (1 << rnd.nextInt(8))).toByte
          c
        case 2 => // junk suffix line
          bytes ++ s"\n${rnd.alphanumeric.take(40).mkString}"
            .getBytes("UTF-8")
        case _ => // random garbage of similar size
          val g = new Array[Byte](bytes.length)
          rnd.nextBytes(g)
          g
      }
      val f = dir.resolve(s"m$trial.jsonl.bloom")
      Files.write(f, mutated)
      // must never throw; and thanks to the per-line CRC32 a mutated
      // bitset can never parse — a surviving column-2 entry is
      // bit-identical to the original, so EVERY inserted value still
      // tests positive with no escape hatch (a cleared bit would be a
      // silent false negative = lost rows through file skipping)
      KvBloom.readSidecar(f) match {
        case None => () // unreadable/corrupt → unknown → never skips
        case Some(m) => m.get(2).foreach { bloom =>
          values.foreach { s =>
            assert(bloom.mightContain(KvBloom.hashString(s)),
              s"trial $trial: mutation produced a false negative")
          }
        }
      }
    }
  }
}
