package graftbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the benchmark's only source of inputs: the same
  * seed must give byte-identical inputs, another seed other inputs. */
class InputsSpec extends AnyFunSuite {

  private def digest(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }
  private def utf8(s: Any): Array[Byte] = s.toString.getBytes("UTF-8")
  private def floats(v: Array[Float]): Array[Byte] = {
    val b = ByteBuffer.allocate(4 * v.length)
    v.foreach(b.putFloat)
    b.array()
  }

  private def fuel(seed: Long): String = {
    val g = FuelGen(seed)
    digest((0 until 3).iterator.flatMap { r =>
      val rd = g.round(r)
      Iterator(utf8(rd.listJson), utf8(rd.detailsJsonl))
    })
  }
  private def prices(seed: Long): String = digest(PriceGen.base(seed).iterator.map(utf8))
  private def corpus(seed: Long): String = {
    val g = CorpusGen(seed, docs = 3000, vectors = 1000)
    val d = g.corpus
    val v = g.vecs
    digest(d.rows.iterator.map(utf8) ++ v.rows.iterator.flatMap { case (i, x) =>
      Iterator(utf8(i), floats(x)) } ++ g.queryBatch(0).iterator.map(q => floats(q._2)))
  }

  test("the same seed yields byte-identical inputs") {
    assert(fuel(7) === fuel(7))
    assert(prices(7) === prices(7))
    assert(corpus(7) === corpus(7))
  }

  test("another seed yields other inputs") {
    assert(fuel(7) !== fuel(8))
    assert(prices(7) !== prices(8))
    assert(corpus(7) !== corpus(8))
  }

  test("injected duplicates appear at about their configured rates") {
    val g = CorpusGen(3, docs = 4000, vectors = 2000)
    val d = g.corpus
    assert(math.abs(d.nearPairs.size / 4000.0 - CorpusGen.NearDupRate) < 0.02)
    assert(math.abs((4000 - d.distinctTexts) / 4000.0 - CorpusGen.ExactDupRate) < 0.02)
    assert(math.abs(g.vecs.dups.size / 2000.0 - CorpusGen.VecDupRate) < 0.02)
  }
}
