package graft.perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Deterministic input generators. Every generator takes the seed and a
  * stream name, draws only from its own `SplittableRandom`, and feeds
  * every record it emits into a SHA-256 digest, so one seed always gives
  * the same inputs and the same printed input hash. Each generator also
  * returns the ground truth it planted.
  */
final class Gen(seed: Long, stream: String) {
  private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)
  private val digest = MessageDigest.getInstance("SHA-256")

  def int(n: Int): Int = rng.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
  def unit(): Double = rng.nextDouble()
  def gauss(): Double = {
    // Box-Muller on the generator's own stream
    val u = rng.nextDouble().max(1e-300); val v = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Record one emitted value in the input hash. */
  def hash(parts: Any*): Unit =
    digest.update((parts.map {
      case a: Array[Float] => a.mkString(",")
      case a: Array[Byte] => java.util.Arrays.hashCode(a).toString
      case other => String.valueOf(other)
    }.mkString("\u0001") + "\n").getBytes("UTF-8"))

  def inputHash: String = digest.digest().map("%02x".format(_)).mkString
}

/** A synthetic vocabulary with Zipf-skewed word draws plus the stopwords
  * the quality rules look for. Word 0 is the most frequent. */
final class Vocab(g: Gen, size: Int, zipf: Double = 1.05) {
  private val syllables = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
  val words: IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size)
      seen += Seq.fill(g.between(2, 4))(syllables(g.int(syllables.size))).mkString
    seen.toIndexedSeq
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1.0, zipf))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  def rank(): Int = {
    val u = g.unit()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1).min(size - 1)
  }
  def word(): String = words(rank())
  /** A word from the rarest half: rare terms make WAND prune. */
  def rare(): String = words(size / 2 + g.int(size / 2))
  def sentence(n: Int): Seq[String] =
    Seq.fill(n)(if (g.unit() < 0.3) Vocab.Stop(g.int(Vocab.Stop.size)) else word())
}

object Vocab {
  val Stop: IndexedSeq[String] = IndexedSeq("the", "and", "of", "to", "a", "in", "that", "for")
}

/** Dense vectors around seeded cluster centers, L2-normalised. */
final class Clusters(g: Gen, val dim: Int, val count: Int, spread: Double) {
  val centers: IndexedSeq[Array[Double]] = IndexedSeq.fill(count)(Array.fill(dim)(g.gauss()))
  def draw(c: Int): Array[Float] = {
    val v = Array.tabulate(dim)(i => centers(c)(i) + spread * g.gauss())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  def near(v: Array[Float], noise: Double): Array[Float] = {
    val w = v.map(x => x + noise * g.gauss())
    val n = math.sqrt(w.map(x => x * x).sum)
    w.map(x => (x / n).toFloat)
  }
}

final case class Doc(id: Long, text: String)
final case class Vec(id: Long, embedding: Array[Float])

/** corpus_curation: a corpus with planted rule failures, exact-duplicate
  * groups, near-duplicate clusters of mixed sizes and documents that
  * quote a generated benchmark set. */
final case class CurationInput(
    docs: IndexedSeq[Doc], benchmark: IndexedSeq[String],
    ruleDrops: Set[Long], exactDrops: Set[Long],
    nearClusters: Seq[Seq[Long]], contaminated: Set[Long], vocab: IndexedSeq[String],
    hash: String) {
  /** Ids the near-dup stage must drop: all but the lowest id per cluster. */
  def nearDrops: Set[Long] = nearClusters.flatMap(c => c.sorted.tail).toSet
  def plantedRemovals: Set[Long] = exactDrops ++ nearDrops ++ contaminated
  /** Every planted near-duplicate pair (a < b) the LSH stage should find. */
  def truePairs: Set[(Long, Long)] =
    nearClusters.flatMap(c => for (a <- c; b <- c if a < b) yield (a, b)).toSet
}

object CurationGen {
  def apply(seed: Long, n: Int): CurationInput = {
    val g = new Gen(seed, "corpus_curation")
    val vocab = new Vocab(g, 6000)
    def text(): String = vocab.sentence(g.between(40, 80)).mkString(" ")
    val benchmark = IndexedSeq.fill(40)(vocab.sentence(30).mkString(" "))
    // planted categories take disjoint id ranges inside a shuffled order
    val nBad = n / 100; val nExactGroups = n / 40; val nClusters = n / 25
    val nContam = n / 50
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)] // (kind, text)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    def add(kind: String, t: String): Int = { buf += ((kind, t)); buf.size - 1 }
    (0 until nBad).foreach(_ =>
      add("bad", Seq.fill(30)(s"{${vocab.word()}}").mkString(" ")))
    (0 until nExactGroups).foreach { _ =>
      val t = text()
      groups += Seq.fill(g.between(2, 4))(add("exact", t))
    }
    val clusterIdx = (0 until nClusters).map { _ =>
      val base = vocab.sentence(g.between(50, 80)).toArray
      val size = Seq(2, 2, 2, 3, 3, 4, 6)(g.int(7))
      val texts = scala.collection.mutable.LinkedHashSet(base.mkString(" "))
      while (texts.size < size) {
        val w = base.clone()
        (0 until 1 + g.int(2)).foreach(_ => w(g.int(w.length)) = vocab.word())
        texts += w.mkString(" ")
      }
      texts.toSeq.map(add("near", _))
    }
    (0 until nContam).foreach { _ =>
      val q = benchmark(g.int(benchmark.size)).split(" ")
      val from = g.int(q.length - 14)
      add("contam", (vocab.sentence(20) ++ q.slice(from, from + 14) ++
        vocab.sentence(20)).mkString(" "))
    }
    while (buf.size < n) {
      val t = text()
      add("plain", if (g.unit() < 0.05) s"$t contact ${vocab.word()}@example.com now" else t)
    }
    // ids: a seeded permutation, so planted docs are spread over the corpus
    val ids = g.shuffle((0L until buf.size.toLong).toIndexedSeq)
    val docs = buf.indices.map(i => Doc(ids(i), buf(i)._2))
    docs.sortBy(_.id).foreach(d => g.hash(d.id, d.text))
    benchmark.foreach(b => g.hash(b))
    def idsOf(kind: String) = buf.indices.filter(buf(_)._1 == kind).map(ids).toSet
    val exactDrops = groups.flatMap(gr => gr.map(ids).sorted.tail).toSet
    CurationInput(docs.sortBy(_.id), benchmark, idsOf("bad"), exactDrops,
      clusterIdx.map(_.map(ids)), idsOf("contam"), vocab.words, g.inputHash)
  }
}

/** A query of the retrieval stream. `filter` is 0 (none), 1 (~1% of the
  * corpus allowed) or 2 (~50% allowed). */
final case class Query(id: Long, kind: String, filter: Int, terms: Seq[String],
    vec: Array[Float])

final case class RetrievalInput(
    corpus: CurationInput, vecs: IndexedSeq[Vec],
    allowedSmall: IndexedSeq[Long], allowedHalf: IndexedSeq[Long],
    stream: IndexedSeq[Query], batch: IndexedSeq[Query],
    recallQueries: IndexedSeq[Vec],
    microDocs: IndexedSeq[Doc], microVecs: IndexedSeq[Vec], deletes: IndexedSeq[Long],
    hash: String) {
  def liveMicroDocs: IndexedSeq[Doc] = { val d = deletes.toSet; microDocs.filterNot(x => d(x.id)) }
  def liveMicroVecs: IndexedSeq[Vec] = { val d = deletes.toSet; microVecs.filterNot(x => d(x.id)) }
}

object RetrievalGen {
  val QueryIdBase = 1000000000L
  val Kinds = IndexedSeq("bm25", "dense", "rrf")

  /** The curation corpus of `n` documents with a clustered embedding per
    * document; `blocks` blocks of single queries, each block every
    * (kind, filter) pair once; a batch of `batchSize` queries; a
    * micro-batch of `microN` new documents with their vectors, of which
    * `deleteN` are then deleted. */
  def apply(seed: Long, n: Int, blocks: Int, batchSize: Int, microN: Int,
      deleteN: Int): RetrievalInput = {
    val corpus = CurationGen(seed, n)
    val g = new Gen(seed, "retrieval_serving")
    val words = corpus.vocab
    val clusters = new Clusters(g, 32, 48, 0.35)
    def vec(id: Long) = Vec(id, clusters.draw(g.int(clusters.count)))
    val vecs = corpus.docs.map(d => vec(d.id))
    val allowedSmall = corpus.docs.map(_.id).filter(_ => g.unit() < 0.01)
    val allowedHalf = corpus.docs.map(_.id).filter(_ => g.unit() < 0.5)
    // common terms exercise WAND pruning; rare ones leave nothing to prune
    def terms(): Seq[String] =
      Seq(words(g.int(50)), words(g.int(50)), words(words.size / 2 + g.int(words.size / 2)))
    def qvec(): Array[Float] = clusters.near(vecs(g.int(n)).embedding, 0.05)
    val pattern = for (k <- Kinds; f <- 0 to 2) yield (k, f)
    val stream = (0 until blocks * pattern.size).map { i =>
      val (k, f) = pattern(i % pattern.size)
      Query(QueryIdBase + i, k, f, terms(), qvec())
    }
    val batch = (0 until batchSize).map(i =>
      Query(2 * QueryIdBase + i, "batch", 0, terms(), qvec()))
    val recall = (0 until 32).map(i => Vec(3 * QueryIdBase + i, qvec()))
    val microDocs = (0 until microN).map(i =>
      Doc((n + i).toLong, Seq.fill(g.between(30, 60))(words(g.int(words.size))).mkString(" ")))
    val microVecs = microDocs.map(d => vec(d.id))
    val deletes = g.shuffle(microDocs.map(_.id)).take(deleteN).sorted
    g.hash(corpus.hash)
    vecs.foreach(v => g.hash(v.id, v.embedding))
    g.hash(allowedSmall.mkString(","), allowedHalf.mkString(","))
    (stream ++ batch).foreach(q => g.hash(q.id, q.kind, q.filter, q.terms.mkString(" "), q.vec))
    recall.foreach(v => g.hash(v.id, v.embedding))
    microDocs.foreach(d => g.hash(d.id, d.text)); microVecs.foreach(v => g.hash(v.id, v.embedding))
    g.hash(deletes.mkString(","))
    RetrievalInput(corpus, vecs, allowedSmall, allowedHalf, stream, batch, recall,
      microDocs, microVecs, deletes, g.inputHash)
  }
}

/** deepfake_analytics: a GenImage-layout PNG tree with corrupt members,
  * and an embedding store of generator groups in two feature spaces
  * that share image ids, with a planted per-group separation. */
final case class DeepfakeInput(groups: IndexedSeq[String], images: Int, corrupt: Int,
    spaceA: IndexedSeq[(String, Long, Array[Float])],
    spaceB: IndexedSeq[(String, Long, Array[Float])], hash: String)

object DeepfakeGen {
  val Groups = IndexedSeq("adm", "biggan", "glide", "midjourney", "sdv4", "sdv5", "vqdm", "wukong")

  /** Writes the image tree under `root`; returns the embedding store. */
  def apply(seed: Long, root: java.io.File, imagesPerGroup: Int, corrupt: Int,
      rowsPerGroup: Int): DeepfakeInput = {
    val g = new Gen(seed, "deepfake_analytics")
    Groups.foreach { grp =>
      val dir = new java.io.File(root, s"imagenet_ai_0419_$grp/train/ai")
      dir.mkdirs()
      (0 until imagesPerGroup).foreach { i =>
        val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until 8; y <- 0 until 8) img.setRGB(x, y, g.int(1 << 24))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        val bytes = out.toByteArray
        g.hash(grp, i, bytes)
        java.nio.file.Files.write(new java.io.File(dir, f"img_$i%04d.png").toPath, bytes)
      }
    }
    (0 until corrupt).foreach { i =>
      val grp = Groups(i % Groups.size)
      val bytes = Array.fill(64)(g.int(256).toByte)
      g.hash("corrupt", grp, i, bytes)
      java.nio.file.Files.write(
        new java.io.File(root, s"imagenet_ai_0419_$grp/train/ai/broken_$i.png").toPath, bytes)
    }
    // latent z = group mean + noise; the two spaces are different noisy
    // linear views of the same z, so CKA between them is high and each
    // space separates the groups above chance
    // each group's mean sits on its own latent axis at a fixed distance,
    // so how separable the groups are does not depend on the seed
    val latent = 12
    val means = Groups.indices.map(i => Array.tabulate(latent)(j => if (j == i) 3.0 else 0.0))
    // the two feature extractors are fixed maps, the same for every seed;
    // the seed draws the images' latents and the extractors' noise
    val fixed = new Gen(0L, "feature_spaces")
    val pa = Array.fill(32, latent)(fixed.gauss() / math.sqrt(latent))
    val pb = Array.fill(24, latent)(fixed.gauss() / math.sqrt(latent))
    def view(p: Array[Array[Double]], z: Array[Double], noise: Double): Array[Float] =
      p.map(row => (row.indices.map(j => row(j) * z(j)).sum + noise * g.gauss()).toFloat)
    val rows = for (gi <- Groups.indices; i <- 0 until rowsPerGroup) yield {
      val z = means(gi).map(_ + g.gauss())
      val id = gi.toLong * 1000000L + i
      (Groups(gi), id, view(pa, z, 0.3), view(pb, z, 0.3))
    }
    rows.foreach { case (grp, id, a, b) => g.hash(grp, id, a, b) }
    DeepfakeInput(Groups, imagesPerGroup * Groups.size, corrupt,
      rows.map(r => (r._1, r._2, r._3)), rows.map(r => (r._1, r._2, r._4)), g.inputHash)
  }
}
