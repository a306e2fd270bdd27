package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.Random

/** One corpus vector with its JSON label and group label. */
final case class Vec(id: Long, v: Array[Float], group: String, label: String)

/** One input document. `kind` is what the generator planted; the program
  * never sees it, only the oracle does. */
final case class Doc(id: Long, text: String, lang: String, emb: Array[Float],
    kind: String, source: Long = -1L)

/** Seeded input generator. Everything the program receives comes from
  * here, so one seed gives one input set, and [[Gen.Digest]] proves it. */
object Gen {

  /** Vectors from a Gaussian mixture: `k` centres drawn from
    * N(0, spread²) per dimension, points scattered around a random centre
    * with per-dimension deviation `sigma`. Overlapping clusters give IVF
    * cells real structure without making every neighbour share a cell, so
    * IVF recall measures something. A quarter of the labels carry
    * `attrs.hot`, the path the JSON-filtered queries require. */
  final class Mixture(seed: Long, val dim: Int, k: Int, spread: Double, sigma: Double) {
    private val centres = {
      val r = new Random(seed)
      Array.fill(k, dim)(spread * r.nextGaussian())
    }
    private def point(r: Random, c: Int, s: Double): Array[Float] =
      Array.tabulate(dim)(j => (centres(c)(j) + s * r.nextGaussian()).toFloat)

    def corpus(n: Int, stream: Long): Array[Vec] = {
      val r = new Random(seed * 31 + stream)
      Array.tabulate(n) { i =>
        val c = r.nextInt(k)
        val hot = r.nextDouble() < 0.25
        val attrs = if (hot) s"""{"hot":${r.nextInt(100)}}""" else "{}"
        Vec(i.toLong, point(r, c, sigma), s"g${c}_${r.nextInt(20)}",
          s"""{"vec_id":$i,"cat":"c${i % 7}","attrs":$attrs}""")
      }
    }

    /** Fresh query vectors from the same mixture. */
    def queries(n: Int, stream: Long): Array[Array[Float]] = {
      val r = new Random(seed * 31 + stream)
      Array.fill(n)(point(r, r.nextInt(k), sigma))
    }

    /** A point near centre `c` (used for document embeddings). */
    def around(r: Random, c: Int): Array[Float] = point(r, c, sigma)
    def clusters: Int = k
  }

  /** Languages of the document stream: the first four are admitted by the
    * language gate, the fifth is planted to be rejected by it. */
  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "ru")
  val AllowedLangs: Set[String] = Langs.take(4).toSet

  /** Per-language word pools, from the library's built-in LID corpus. */
  lazy val words: Map[String, Array[String]] =
    graft.operators.LangIdFixture.Train
      .filter { case (l, _) => Langs.contains(l) }
      .groupBy(_._1)
      .map { case (l, rows) =>
        l -> rows.flatMap(_._2.split(' ')).filter(_.nonEmpty).distinct.sorted.toArray
      }

  /** Planted rates per micro-batch; the rest is clean text. */
  val ExactDupRate = 0.05
  val NearDupRate = 0.05
  val JunkRate = 0.05
  val ForeignRate = 0.05

  final class DocStream(seed: Long, embDim: Int) {
    private val mix = new Mixture(seed + 7, embDim, 16, 1.0, 0.6)
    private val clean = scala.collection.mutable.ArrayBuffer.empty[Doc]
    private var nextId = 0L

    private def text(r: Random, lang: String): String = {
      val pool = words(lang)
      Seq.fill(30 + r.nextInt(31))(pool(r.nextInt(pool.length))).mkString(" ")
    }
    private def cleanDoc(r: Random, lang: String, corpus: Boolean = true): Doc = {
      val d = Doc(nextId, text(r, lang), lang, mix.around(r, r.nextInt(mix.clusters)),
        "clean")
      nextId += 1
      if (corpus) clean += d
      d
    }

    /** Clean documents in the four admitted languages. `corpus` ones (the
      * seed corpus) may be copied by later duplicates; the rest (the
      * models' training slice) never reach the catalog. */
    def cleanDocs(n: Int, stream: Long, corpus: Boolean): Seq[Doc] = {
      val r = new Random(seed * 131 + stream)
      Seq.fill(n)(cleanDoc(r, Langs(r.nextInt(4)), corpus))
    }

    /** Text no quality gate should admit: symbol runs (Gopher) or letter
      * gibberish (LM and NB). */
    def junkText(r: Random): String =
      if (r.nextBoolean())
        Seq.fill(20 + r.nextInt(20))(
          Seq.fill(1 + r.nextInt(4))("#$%&*@0123456789"(r.nextInt(16))).mkString)
          .mkString(" ")
      else
        Seq.fill(20 + r.nextInt(20))(
          Seq.fill(3 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString)
          .mkString(" ")

    /** One micro-batch. Duplicates copy a clean document generated
      * earlier; a near-duplicate swaps two words and nudges the embedding. */
    def batch(b: Int, size: Int): Seq[Doc] = {
      val r = new Random(seed * 1000003 + b)
      Seq.fill(size) {
        val u = r.nextDouble()
        if (u < ExactDupRate && clean.nonEmpty) {
          val s = clean(r.nextInt(clean.size))
          val d = s.copy(id = nextId, kind = "exact_dup", source = s.id)
          nextId += 1
          d
        } else if (u < ExactDupRate + NearDupRate && clean.nonEmpty) {
          val s = clean(r.nextInt(clean.size))
          val w = s.text.split(' ')
          val pool = words(s.lang)
          for (_ <- 0 until 2) w(r.nextInt(w.length)) = pool(r.nextInt(pool.length))
          val emb = s.emb.map(x => (x + 0.01 * r.nextGaussian()).toFloat)
          val d = Doc(nextId, w.mkString(" "), s.lang, emb, "near_dup", s.id)
          nextId += 1
          d
        } else if (u < ExactDupRate + NearDupRate + JunkRate) {
          val d = Doc(nextId, junkText(r), Langs(r.nextInt(4)),
            mix.around(r, r.nextInt(mix.clusters)), "junk")
          nextId += 1
          d
        } else if (u < ExactDupRate + NearDupRate + JunkRate + ForeignRate) {
          val d = Doc(nextId, text(r, "ru"), "ru",
            mix.around(r, r.nextInt(mix.clusters)), "foreign")
          nextId += 1
          d
        } else cleanDoc(r, Langs(r.nextInt(4)))
      }
    }
  }

  /** SHA-256 over every input the program receives, in order. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def floats(v: Array[Float]): Unit = {
      val bb = ByteBuffer.allocate(4 * v.length)
      v.foreach(bb.putFloat)
      md.update(bb.array())
    }
    def str(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    def long(x: Long): Unit = md.update(ByteBuffer.allocate(8).putLong(x).array())
    def vec(v: Vec): Unit = { long(v.id); floats(v.v); str(v.group); str(v.label) }
    def doc(d: Doc): Unit = { long(d.id); str(d.text); str(d.lang); floats(d.emb) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
