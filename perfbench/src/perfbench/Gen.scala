package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Seeded input generator. Every table is drawn from the sf0.1
  * distributions in `perfbench/profile/sf01.json` (see
  * `perfbench/tools/profile_sf01.py`) and every row is a pure function
  * of (seed, row id), so one seed always gives the same inputs at any
  * partitioning. Outputs are cached per (table set, seed) under the
  * scratch root with a manifest of row counts and bytes; generation is
  * never timed. */
final class Gen(spark: SparkSession, profilePath: String, cacheRoot: String,
                seed: Long) {
  import Gen._
  import spark.implicits._

  private val profile: JsonNode =
    new ObjectMapper().readTree(new File(profilePath))

  /** Directory of `name` for this seed: generated by `make` unless a
    * complete copy (manifest present) is already cached. */
  def cached(name: String)(make: String => Unit): Inputs = {
    val dir = new File(cacheRoot, s"$name-seed$seed")
    val manifest = new File(dir, "_MANIFEST.json")
    if (!manifest.isFile) {
      Files.createDirectories(dir.toPath.getParent)
      Scratch.delete(dir)
      make(dir.getPath)
      val tables = dir.listFiles().filter(_.isDirectory).sortBy(_.getName)
        .map { t =>
          t.getName -> (parquetRows(t), Scratch.bytes(t))
        }
      val body = tables.map { case (n, (r, b)) =>
        s"""  "$n": {"rows": $r, "bytes": $b}""" }.mkString(",\n")
      Files.write(manifest.toPath, s"{\n$body\n}\n".getBytes(UTF_8))
    }
    evictOlder(name)
    dir.setLastModified(System.currentTimeMillis())
    val m = new ObjectMapper().readTree(manifest)
    Inputs(dir.getPath, m.fieldNames().asScala.map { n =>
      n -> (m.get(n).get("rows").asLong, m.get(n).get("bytes").asLong)
    }.toMap)
  }

  /** Rows of a parquet table, from its file footers. */
  private def parquetRows(table: File): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Scratch.dataFiles(table).filter(_.getName.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Keep the cache bounded: only the most recently used seeds of a
    * table set stay on disk. */
  private def evictOlder(name: String): Unit = {
    val all = Option(new File(cacheRoot).listFiles()).getOrElse(Array())
      .filter(f => f.getName.startsWith(s"$name-seed") &&
        f.getName != s"$name-seed$seed")
      .sortBy(-_.lastModified())
    all.drop(KeepSeeds - 1).foreach(Scratch.delete)
  }

  // ---- baskets: lineitem + part in the shape app.Pipeline reads -------

  /** `orders` baskets over a `products` catalogue. Basket sizes follow
    * sf0.1's histogram and items are drawn uniformly from the
    * catalogue, as sf0.1's are. */
  def baskets(orders: Long, products: Int): Inputs =
    cached(s"baskets-o$orders-p$products") { dir =>
      val b = profile.get("baskets")
      val (sizes, sizeCum) = cumulative(b.get("size_hist").asScala.toSeq
        .map(r => (r.get(0).asInt, r.get(1).asLong)))
      val s = seed
      spark.range(0, orders, 1, Partitions).flatMap { o =>
        val rnd = rng(s, o, 1)
        val n = sizes(pick(sizeCum, rnd))
        (1 to n).map(l => (o, rnd.nextInt(products).toLong, l))
      }.toDF("l_orderkey", "l_partkey", "l_linenumber")
        .write.parquet(s"$dir/lineitem.parquet")
      val (words, wordCum) = cumulative(profile.get("part_name_words")
        .asScala.toSeq.map(r => (r.get(0).asText, r.get(1).asLong)))
      spark.range(0, products.toLong, 1, Partitions).map { p =>
        val rnd = rng(s, p, 2)
        val name = scala.collection.mutable.LinkedHashSet.empty[String]
        while (name.size < 5) name += words(pick(wordCum, rnd))
        (p, name.mkString(" "), s"Brand#${1 + rnd.nextInt(5)}${1 + rnd.nextInt(5)}",
          s"TYPE${rnd.nextInt(150)}", 1 + rnd.nextInt(50),
          900.0 + (p % 1000) + rnd.nextInt(100) / 100.0)
      }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice").write.parquet(s"$dir/part.parquet")
    }

  // ---- documents: GenScale-style corpus ---------------------------------

  /** `n` documents drawn from sf0.1's per-language token and length
    * distributions, the vocabulary grown per Heaps' law for the scale
    * factor over sf0.1, with exact duplicates planted at sf0.1's 1/625
    * (more often in a corpus too small to hold [[MinExactDups]] at that
    * rate) and near duplicates (every 10th token redrawn) at 1/125. Doc
    * ids start at `firstId`, so disjoint slices of one corpus come from
    * disjoint id ranges; exact duplicates are planted relative to the
    * slice's first id. `files` fixes the number of parquet files
    * written. */
  def documents(firstId: Long, n: Long, corpusDocs: Long, files: Int): Inputs =
    cached(s"documents-v2-from$firstId-n$n-of$corpusDocs-f$files") { dir =>
      documentFrame(firstId, n, corpusDocs, files)
        .write.parquet(s"$dir/documents.parquet")
    }

  /** The rows [[documents]] writes, as a frame of `files` partitions. */
  def documentFrame(firstId: Long, n: Long, corpusDocs: Long,
                    files: Int): DataFrame = {
    val spec = docSpec(firstId, corpusDocs)
    val s = seed
    spark.range(firstId, firstId + n, 1, files)
      .map(id => spec.doc(s, id))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** (copy, original) ids of the exact duplicates [[documents]] plants
    * in its slice. */
  def plantedExactDups(firstId: Long, n: Long, corpusDocs: Long): Seq[(Long, Long)] = {
    val spec = docSpec(firstId, corpusDocs)
    (firstId until firstId + n).filter(spec.isExactDup).map(id => (id, spec.original(id)))
  }

  private def docSpec(firstId: Long, corpusDocs: Long): DocSpec = {
    val d = profile.get("documents")
    val stride = math.max(2L,
      math.min(d.get("exact_dup_stride").asLong, corpusDocs / MinExactDups))
    val factor = math.max(1.0, corpusDocs.toDouble / d.get("docs").asLong)
    val langSource = d.get("lang_source").asScala.toSeq
      .map(r => ((r.get(0).asText, r.get(1).asText), r.get(2).asLong))
    val tokens = d.get("tokens").asScala.toSeq
      .map(r => (r.get(0).asText, r.get(1).asText, r.get(2).asLong))
      .groupBy(_._1).map { case (l, rows) =>
        l -> heapsGrown(l, rows.map(r => (r._2, r._3)).sorted, factor) }
    val lengths = d.get("lengths").asScala.toSeq
      .map(r => (r.get(0).asText, r.get(1).asInt, r.get(2).asLong))
      .groupBy(_._1).map { case (l, rows) =>
        l -> cumulative(rows.map(r => (r._2, r._3)).sorted) }
    DocSpec(cumulative(langSource.sortBy(_._1)), tokens, lengths, firstId, stride)
  }

  // ---- vectors: 64-dim embeddings around sf0.1's label centroids -------

  /** `n` vectors: a label drawn by sf0.1's label frequencies, then the
    * label's centroid plus Gaussian noise at sf0.1's residual spread. */
  def vectors(n: Long): Inputs = cached(s"vectors-n$n") { dir =>
    val e = profile.get("embeddings")
    val sd = e.get("residual_sd").asDouble
    val labels = e.get("labels").asScala.toSeq
    val centroids = labels.map(_.get("centroid").asScala.map(_.asDouble)
      .toArray).toArray
    val (ids, labelCum) = cumulative(labels.zipWithIndex
      .map { case (l, i) => (i, l.get("count").asLong) })
    val s = seed
    spark.range(0, n, 1, Partitions).map { id =>
      val rnd = rng(s, id, 3)
      val l = ids(pick(labelCum, rnd))
      val c = centroids(l)
      (id, c.map(x => (x + rnd.nextGaussian() * sd).toFloat), l)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
  }
}

object Gen {
  /** Partitions (and so parquet files) of each generated table: one
    * per core of a `local[4]` session. */
  val Partitions = 4
  /** Seeds kept per table set in the cache. */
  val KeepSeeds = 3
  /** Fewest exact duplicates a corpus holds. */
  val MinExactDups = 8

  /** A generated table set: its directory and per-table (rows, bytes). */
  case class Inputs(dir: String, tables: Map[String, (Long, Long)]) {
    def rows(t: String): Long = tables(t)._1
  }

  /** Per-row generator: a pure function of (seed, row id, stream). */
  def rng(seed: Long, id: Long, stream: Int): java.util.Random =
    new java.util.Random(
      (id * 0x9e3779b97f4a7c15L) ^ (seed * 0xbf58476d1ce4e5b9L) ^
        (stream * 0x94d049bb133111ebL))

  /** (values, cumulative weights) for weighted draws with [[pick]]. */
  def cumulative[T: scala.reflect.ClassTag](
      xs: Seq[(T, Long)]): (Array[T], Array[Long]) =
    (xs.map(_._1).toArray, xs.map(_._2).scanLeft(0L)(_ + _).tail.toArray)

  /** Index of a weighted draw from a cumulative-weight array. */
  def pick(cum: Array[Long], rnd: java.util.Random): Int = {
    val x = (rnd.nextDouble() * cum.last).toLong
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (cum(mid) > x) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Heaps' law growth of one language's vocabulary, as GenScale does
    * it: V = V0 · factor^0.5 types; the sf0.1 types keep their relative
    * weights at the Zipf head mass, and the new tail types get r^-1.1
    * weights. */
  def heapsGrown(lang: String, emp: Seq[(String, Long)],
                 factor: Double): (Array[String], Array[Long]) = {
    val v0 = emp.length
    val v = math.ceil(v0 * math.sqrt(factor)).toInt
    if (v <= v0) cumulative(emp)
    else {
      val zipf = (1 to v).map(r => math.pow(r.toDouble, -1.1))
      val zTot = zipf.sum
      val headMass = zipf.take(v0).sum / zTot
      val empTot = emp.map(_._2).sum.toDouble
      val scale = 1e9
      val head = emp.map { case (w, c) =>
        (w, math.max(1L, (c / empTot * headMass * scale).toLong)) }
      val tail = (v0 + 1 to v).map { r =>
        (s"${lang}zipf$r", math.max(1L, (zipf(r - 1) / zTot * scale).toLong)) }
      cumulative(head ++ tail)
    }
  }

  /** Document model: (lang, source) joint, per-lang token table and
    * length histogram, and where exact duplicates go: the last row of
    * every `exactStride` rows from `firstId`. Serializable so executors
    * draw rows. */
  case class DocSpec(
      langSource: (Array[(String, String)], Array[Long]),
      tokens: Map[String, (Array[String], Array[Long])],
      lengths: Map[String, (Array[Int], Array[Long])],
      firstId: Long, exactStride: Long) {

    def isExactDup(id: Long): Boolean =
      (id - firstId) % exactStride == exactStride - 1
    /** The document an exact duplicate copies: one half a stride
      * earlier, never itself an exact duplicate. */
    def original(id: Long): Long = id - exactStride / 2

    private def base(seed: Long, id: Long): (String, String, Array[String]) = {
      val rnd = rng(seed, id, 4)
      val (lang, source) = langSource._1(pick(langSource._2, rnd))
      val (lens, lenCum) = lengths(lang)
      val (tv, tc) = tokens(lang)
      (lang, source, Array.fill(lens(pick(lenCum, rnd)))(tv(pick(tc, rnd))))
    }

    /** Row `id`: an exact duplicate copies row [[original]]; a near
      * duplicate redraws every 10th token of the document 124 ids
      * earlier. */
    def doc(seed: Long, id: Long): (Long, String, String, String, Long) =
      if (isExactDup(id)) doc(seed, original(id)).copy(_1 = id)
      else {
        val (lang, source, toks) =
          if (id % 125 == 124 && id >= 125) {
            val (l, s, t) = base(seed, id - 124)
            val rnd = rng(seed, id, 5)
            val (tv, tc) = tokens(l)
            var k = 9
            while (k < t.length) { t(k) = tv(pick(tc, rnd)); k += 10 }
            (l, s, t)
          } else base(seed, id)
        val text = toks.mkString(" ")
        (id, text, lang, source, text.length.toLong)
      }
  }
}
