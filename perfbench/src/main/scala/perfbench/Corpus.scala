package perfbench

import java.text.Normalizer
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded document corpora with planted near-duplicate families, shared
  * by `curation` and `ingest`.
  *
  * Background documents are word salad over a large seeded vocabulary,
  * so two of them share almost no word 3-gram and their random 64-d
  * embeddings are far from cosine 0.9. A *text* family is a base
  * document plus variants that swap two words and spell accented words
  * decomposed (NFD) and with stray control characters, which
  * `nfcClean` must undo before their 3-gram Jaccard with the base
  * clears 0.5. A *semantic* family shares one embedding direction
  * (cosine above 0.999) under unrelated texts. Low-quality documents
  * (too short, or punctuation spam) are planted for the quality filter
  * to drop; they are never family members. */
object Corpus {
  val Dim = 64
  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "a", "of", "and", "to", "in", "is")

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  final case class Doc(id: Long, text: String, embedding: Array[Float]) {
    def row: Row = Row(id, text, embedding.toSeq)
  }

  /** A seeded vocabulary; about one word in eight carries an accent. */
  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < n) {
      val syl = 2 + r.nextInt(3)
      val w = (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}")
        .mkString
      words += (if (r.nextInt(8) == 0) w.dropRight(1) + "é" else w)
    }
    words.toIndexedSeq
  }

  /** Decomposed (NFD) spelling, as family variants write accented words. */
  def nfd(s: String): String = Normalizer.normalize(s, Normalizer.Form.NFD)

  final class Gen(seed: Long, vocabSize: Int) {
    private val vocab = vocabulary(seed, vocabSize)

    /** `n` words, every fifth a stopword, so the quality filter's
      * stopword ratio passes every generated document. */
    def words(r: SplittableRandom, n: Int): IndexedSeq[String] =
      (0 until n).map(k => if (k % 5 == 2) Stopwords(r.nextInt(Stopwords.length))
        else vocab(r.nextInt(vocab.length)))

    def text(ws: Seq[String]): String = ws.mkString(" ")

    def vector(r: SplittableRandom): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)

    /** `v` nudged by 1% relative noise: cosine with `v` stays above 0.999. */
    def nearVector(r: SplittableRandom, v: Array[Float]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x + 0.01 * norm / math.sqrt(Dim) * r.nextGaussian()).toFloat)
    }

    /** A variant of `base` words: two non-stopwords swapped for new
      * ones far apart, accented words decomposed, a control character
      * in one gap. */
    def variant(r: SplittableRandom, base: IndexedSeq[String]): String = {
      val ws = base.toArray
      def content(k: Int) = if (k % 5 == 2) k + 1 else k
      val i = content(r.nextInt(ws.length / 2))
      val j = content(ws.length / 2 + r.nextInt(ws.length / 2 - 1))
      ws(i) = vocab(r.nextInt(vocab.length))
      ws(j) = vocab(r.nextInt(vocab.length))
      val spelled = ws.map(w => if (w.exists(_ > 127)) nfd(w) else w)
      val k = 1 + r.nextInt(spelled.length - 1)
      (spelled.take(k).mkString(" ") + " \u0007" + spelled.drop(k).mkString(" "))
    }

    def lowQuality(r: SplittableRandom): String =
      if (r.nextBoolean()) text(words(r, 6))
      else text(words(r, 30)).replace(" ", " !?! ")
  }
}
