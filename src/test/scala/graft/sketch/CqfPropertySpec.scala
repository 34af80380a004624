package graft.sketch

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** ScalaCheck property suite (SURVEY.md §5.2-1): arbitrary key multisets,
  * arbitrary splits and merge orders, arbitrary parameter grids — the
  * generator searches for counterexamples the seeded suites can't. */
class CqfPropertySpec extends AnyFunSuite {

  /** Run a ScalaCheck property under scalatest (the scalatestplus bridge
    * is not on the offline classpath). */
  private def check(prop: Prop,
      params: ScTest.Parameters = ScTest.Parameters.default.withMinSuccessfulTests(60)): Unit = {
    val res = ScTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  private val keyGen: Gen[Long] = Gen.chooseNum(-5000L, 5000L)
  private val multisetGen: Gen[List[Long]] =
    Gen.chooseNum(0, 800).flatMap(n => Gen.listOfN(n, keyGen))

  test("property: counts always equal the exact multiset counts") {
    check(Prop.forAll(multisetGen, Gen.oneOf(6, 8, 10), Gen.oneOf(false, true)) {
      (keys, q, compact) =>
        val cqf = Cqf(q, 64 min (if (compact) q + 32 else 64),
          invertible = true, compact = compact)
        val oracle = mutable.Map.empty[Long, Long]
        keys.foreach { k =>
          val key = k & WangHash.mask(cqf.hashBits)
          cqf.insert(key)
          oracle(key) = oracle.getOrElse(key, 0L) + 1
        }
        oracle.forall { case (k, c) => cqf.count(k) == c } &&
          cqf.totalCount == keys.size
    })
  }

  test("property: merge of any split in any order == sequential build") {
    val splitGen = for {
      keys <- multisetGen
      parts <- Gen.chooseNum(1, 6)
      assignment <- Gen.listOfN(keys.size, Gen.chooseNum(0, parts - 1))
    } yield (keys, parts, assignment)
    check(Prop.forAll(splitGen) { case (keys, parts, assignment) =>
      val seq = Cqf(6, 64)
      keys.foreach(seq.insert(_))
      val shards = Array.fill(parts)(Cqf(6, 64))
      keys.zip(assignment).foreach { case (k, p) => shards(p).insert(k) }
      val merged = shards.reduceLeft(_.mergeInPlace(_))
      merged.iterator.toList == seq.iterator.toList
    })
  }

  test("property: folding partials with merge in any order gives the same content") {
    // Cqf.merge's contract: the same content and counts in any order. Not
    // the same bytes: the fold order can move a grow, so equal content may
    // land at different quotientBits
    val partialGen: Gen[List[(Long, Long)]] = Gen.chooseNum(1, 2000).flatMap(n =>
      Gen.listOfN(n, Gen.zip(
        Gen.frequency(1 -> Gen.long, 1 -> Gen.chooseNum(0L, 3000L)),
        Gen.chooseNum(1L, 3L))))
    val foldGen = for {
      parts <- Gen.chooseNum(2, 7).flatMap(Gen.listOfN(_, partialGen))
      order <- Gen.long
    } yield (parts, order)
    check(Prop.forAll(foldGen) { case (parts, order) =>
      val partials = parts.map { inserts =>
        val c = Cqf(10, 64)
        inserts.foreach { case (k, n) => c.insert(k, n) }
        c
      }
      val inOrder = partials.reduceLeft(Cqf.merge)
      val shuffled = new scala.util.Random(order).shuffle(partials).reduceLeft(Cqf.merge)
      inOrder.iterator.toList == shuffled.iterator.toList &&
        inOrder.distinctAndTotal == shuffled.distinctAndTotal &&
        inOrder.totalCount == parts.flatten.map(_._2).sum
    }, ScTest.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(Seed(0x6772616674L)))
  }

  test("property: serialize/deserialize is the identity") {
    check(Prop.forAll(multisetGen, Gen.oneOf(false, true)) { (keys, compact) =>
      val cqf = Cqf(6, if (compact) 38 else 64, invertible = true, compact = compact)
      keys.foreach(k => cqf.insert(k & WangHash.mask(cqf.hashBits)))
      val back = Cqf.deserialize(cqf.serialize())
      back == cqf && back.iterator.toList == cqf.iterator.toList
    })
  }

  test("property: enumeration is strictly ascending and complete") {
    check(Prop.forAll(multisetGen) { keys =>
      val cqf = Cqf(6, 64)
      keys.foreach(cqf.insert(_))
      val items = cqf.iterator.toList
      val ascending = items.map(_._1).sliding(2).forall {
        case List(a, b) => java.lang.Long.compareUnsigned(a, b) < 0
        case _ => true
      }
      ascending && items.map(_._2).sum == keys.size &&
        items.size == keys.distinct.size
    })
  }

  test("property: union/intersect/diff match exact multiset algebra") {
    check(Prop.forAll(multisetGen, multisetGen) { (ka, kb) =>
      val a = Cqf(6, 64); val b = Cqf(6, 64)
      ka.foreach(a.insert(_)); kb.foreach(b.insert(_))
      val ma = ka.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val mb = kb.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val inter = a.intersect(b)
      val diff = a.diff(b)
      (ma.keySet ++ mb.keySet).forall { k =>
        val ca = ma.getOrElse(k, 0L); val cb = mb.getOrElse(k, 0L)
        inter.count(k) == (if (ca > 0 && cb > 0) math.min(ca, cb) else 0L) &&
          diff.count(k) == math.max(ca - cb, 0L)
      }
    })
  }

  test("property: wang hash bijectivity on arbitrary widths") {
    check(Prop.forAll(Gen.chooseNum(1, 64), Gen.long) { (bits, raw) =>
      val v = raw & WangHash.mask(bits)
      WangHash.unhash(WangHash.hash(v, bits), bits) == v
    })
  }
}
