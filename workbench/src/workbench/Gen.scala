package workbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generation. Everything a workload feeds the engine (store
  * rows, query vectors, document texts, op choices) comes from here, so the
  * same seed gives byte-identical inputs and op streams. */
object Gen {

  /** Independent stream per (seed, purpose): purposes never share draws. */
  def rng(seed: Long, salt: String): SplittableRandom = {
    var h = seed * 0x9e3779b97f4a7c15L
    salt.getBytes(StandardCharsets.UTF_8).foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
    new SplittableRandom(h)
  }

  /** Clustered vectors: `clusters` gaussian centres, each row a centre plus
    * gaussian noise, so ANN recall is neither trivial nor hopeless. */
  final class Clustered(seed: Long, val dim: Int, clusters: Int) {
    private val centres: Array[Array[Float]] = {
      val r = rng(seed, "centres")
      Array.fill(clusters)(Array.fill(dim)(r.nextGaussian().toFloat))
    }
    def draw(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dim)(j => c(j) + 0.6f * r.nextGaussian().toFloat)
    }
    def rows(salt: String, n: Int): Array[Array[Float]] = {
      val r = rng(seed, salt)
      Array.fill(n)(draw(r))
    }
  }

  // ------------------------------------------------------------- documents

  /** Pronounceable pseudo-words from a seeded syllable grammar. Only letters
    * and spaces, so every text is a legal DSL raw string. */
  final class Corpus(seed: Long, vocabSize: Int = 1500) {
    private val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "so", "vi",
      "de", "po", "an", "el", "ir", "um", "ba", "ge", "fo", "hu", "ja", "wy")
    val vocab: Array[String] = {
      val r = rng(seed, "vocab")
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < vocabSize)
        seen += Array.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.length))).mkString
      seen.toArray
    }
    def text(r: SplittableRandom): String =
      Array.fill(8 + r.nextInt(13))(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  val Langs: Array[String] = Array("en", "de", "fr", "es")
  val Sources = 40

  /** Op kinds in a fixed shuffled order that repeats: the mix holds
    * exactly over every pass, and it is the same for every seed, so seeds
    * change what the calls carry, never how many of each kind a window
    * sends. `counts(k)` is how many kind-k ops one pass holds. */
  final class Deck(counts: Seq[Int], offset: Int) {
    private val pattern: Array[Int] = {
      val a = counts.zipWithIndex.flatMap { case (n, k) => Seq.fill(n)(k) }.toArray
      val r = new SplittableRandom(0x5eedL)
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private var i = offset
    def next(): Int = { val k = pattern(i % pattern.length); i += 1; k }
  }

  /** One client's op stream: kinds from a [[Deck]], contents from the seed. */
  final class Stream(seed: Long, salt: String, counts: Seq[Int], offset: Int = 0) {
    val r: SplittableRandom = rng(seed, salt)
    private val deck = new Deck(counts, offset)
    def kind(): Int = deck.next()
  }

  // ---------------------------------------------------------------- digest

  /** SHA-256 over a canonical byte rendering of generated inputs — the
    * determinism check of the benchmark's own tests. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): this.type = { buf.clear(); buf.putLong(v); md.update(buf.array()); this }
    def str(s: String): this.type = {
      val b = s.getBytes(StandardCharsets.UTF_8); long(b.length); md.update(b); this
    }
    def vec(v: Array[Float]): this.type = { v.foreach(f => long(java.lang.Float.floatToIntBits(f))); this }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
