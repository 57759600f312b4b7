package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a pure function of the seed: the same seed
  * must give byte-identical line protocol and Entry payloads, on any run
  * and any commit, or results stop being comparable. */
class GenSpec extends AnyFunSuite {
  private def sha(bytes: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    bytes.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }

  private def mixBytes(seed: Long): Seq[Array[Byte]] =
    QueryMix.writes(Gen.mix(seed, QueryMix.Rows, QueryMix.BaseWrites,
      QueryMix.RewriteShare)).flatMap(w => Seq(w.lp, w.entryReq))

  private def growthBytes(seed: Long): Seq[Array[Byte]] =
    Growth.plan(Gen.growth(seed, Growth.Rounds, Growth.Lines, Growth.RewriteShare),
      Db(1, 2)).flatMap(_.writes.flatMap(w => Seq(w.lp, w.entryReq)))

  test("the same seed gives byte-identical writes; another seed does not") {
    assert(sha(mixBytes(7)) == sha(mixBytes(7)))
    assert(sha(growthBytes(7)) == sha(growthBytes(7)))
    assert(sha(mixBytes(7)) != sha(mixBytes(8)))
    assert(sha(growthBytes(7)) != sha(growthBytes(8)))
  }

  test("seed 1's query_mix line protocol is pinned") {
    val lp = Gen.lp(Gen.mix(1, 200, 2, 0.05).writes.flatten)
    assert(lp.linesIterator.next() ==
      "bench,tag0=t0v001,tag1=t1v002,tag2=t2v001,tag3=t3v037,tag4=t4v011 f=83.0 1600000000000000000")
    assert(sha(Seq(lp.getBytes(UTF_8))) == GenSpec.PinnedMixSha)
  }

  test("tag shapes follow the read_filter fixture: cardinalities 2/10/10/50/100") {
    val data = Gen.mix(3, QueryMix.Rows, QueryMix.BaseWrites, QueryMix.RewriteShare)
    assert(Gen.cardinalities(data.expected) == Seq(2, 10, 10, 50, 100))
    assert(data.expected.forall(p => p.f * 4 == math.floor(p.f * 4) && p.f < 100))
  }

  test("last write wins: rewrites keep the key set and carry the later value") {
    val data = Gen.mix(5, 1000, 4, 0.1)
    val base = data.writes.init.flatten
    val rewrites = data.writes.last
    assert(rewrites.size == 100 && data.expected.size == 1000)
    assert(data.expected.map(_.key).toSet == base.map(_.key).toSet)
    val byKey = data.expected.map(p => p.key -> p.f).toMap
    assert(rewrites.forall(p => byKey(p.key) == p.f))
  }

  test("growth rounds: fresh points stay in their slab; rewrites hit earlier rounds") {
    val g = Gen.growth(9, 6, 50, 0.1)
    g.fresh.zipWithIndex.foreach { case (ps, r) =>
      val (from, to) = g.slab(r)
      assert(ps.size == 50 && ps.forall(p => p.time >= from && p.time < to))
    }
    g.rounds.zipWithIndex.drop(1).foreach { case (ps, r) =>
      val earlier = g.fresh.take(r).flatten.map(_.key).toSet
      assert(ps.drop(50).forall(p => earlier.contains(p.key)))
    }
  }
}

object GenSpec {
  /** SHA-256 of seed 1's 200-row query_mix line protocol. A change here
    * changes every workload's inputs: results before and after it do not
    * compare. */
  val PinnedMixSha = "d409340dc3d8d0affa752936807e4446c8888539d13fd1891912ee156bc414b1"
}
