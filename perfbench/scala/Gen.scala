package perfbench

import scala.util.Random

/** Seeded input generator. Every workload draws its documents and
  * queries from here and nothing else; the same seed gives the same
  * inputs. Text is a topic mixture: each document has a dominant topic
  * with its own vocabulary, a second topic and shared filler words, so
  * the feature-hashed embeddings cluster by topic and keyword queries
  * match a topic's documents. Each document opens with its own id word
  * (`doc<id>`), the way a title or reference number would, which gives
  * every document one rare keyword. */
final class Gen(seed: Long) {
  val Topics = 24
  private val vocabRng = new Random(seed)
  private def word(r: Random): String =
    Iterator.fill(4 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString
  private val vocab: Array[Array[String]] =
    Array.fill(Topics)(Array.fill(30)(word(vocabRng)))
  private val filler: Array[String] = Array.fill(200)(word(vocabRng))

  /** A stream of its own per purpose, so resizing one input leaves the
    * others unchanged. */
  def rng(stream: Int): Random = new Random(seed * 1000003L + stream)

  private def pick(r: Random, main: Int, alt: Int): String = {
    val u = r.nextDouble()
    if (u < 0.8) vocab(main)(r.nextInt(vocab(main).length))
    else if (u < 0.9) vocab(alt)(r.nextInt(vocab(alt).length))
    else filler(r.nextInt(filler.length))
  }

  def doc(id: Long, topic: Int, r: Random): String = {
    val alt = r.nextInt(Topics)
    val sentences = Seq.fill(3 + r.nextInt(3)) {
      Seq.fill(8 + r.nextInt(5))(pick(r, topic, alt)).mkString(" ")
    }
    s"doc$id " + sentences.mkString(". ") + "."
  }

  /** `n` documents with ids 1..n over uniformly drawn topics, of which
    * a `dupShare` fraction are planted near-duplicates: a copy of an
    * earlier original with its id word and two other words changed.
    * Returns (docs as (id, topic, text), planted (original, copy)). */
  def corpus(n: Int, dupShare: Double)
      : (Seq[(Long, Int, String)], Seq[(Long, Long)]) = {
    val r = rng(1)
    val nDup = math.round(n * dupShare).toInt
    val originals = (1L to (n - nDup).toLong).map { id =>
      val t = r.nextInt(Topics)
      (id, t, doc(id, t, r))
    }
    val copies = (1 to nDup).map { i =>
      val id = (n - nDup + i).toLong
      val (src, t, text) = originals(r.nextInt(originals.length))
      val words = text.split(" ")
      words(0) = s"doc$id"
      Iterator.fill(2)(1 + r.nextInt(words.length - 1))
        .foreach(j => words(j) = filler(r.nextInt(filler.length)))
      ((id, t, words.mkString(" ")), (src, id))
    }
    (originals ++ copies.map(_._1), copies.map(_._2))
  }

  /** `n` held-out passages drawn like document chunks (two sentences of
    * one topic mixture), used as both the vector and the keyword query,
    * as (query id, topic, text). */
  def queries(n: Int): Seq[(Int, Int, String)] = {
    val r = rng(2)
    (0 until n).map { i =>
      val t = r.nextInt(Topics)
      val alt = r.nextInt(Topics)
      (i, t, Seq.fill(2)(Seq.fill(8 + r.nextInt(5))(pick(r, t, alt))
        .mkString(" ")).mkString(". "))
    }
  }
}
