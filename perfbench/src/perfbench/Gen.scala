package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import graft.extract.Page
import graft.job.{PageTableIO, Salting}
import graft.sources.Warc

/** Seeded source of every random choice the generators make. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = r.nextDouble() < p
  def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))
  def hex(n: Int): String = Iterator.fill(n)("0123456789abcdef"(r.nextInt(16))).mkString
  def shuffle[A](xs: Seq[A]): Vector[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }
}

/** Pseudo-language text: a seeded vocabulary of made-up words (4+
  * letters, so never one of the stopwords TextOps' language and quality
  * heuristics count) mixed with a real stopword list. */
final class Lang(rng: Rng, val code: String, stops: IndexedSeq[String],
                 vocabSize: Int) {
  private val onsets = IndexedSeq("b", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "st", "tr", "gl", "sch", "kr")
  private val nuclei = IndexedSeq("a", "e", "i", "o", "u", "ei", "au", "ie")
  val vocab: IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < vocabSize) {
      val w = Iterator.fill(rng.between(2, 4))(rng.pick(onsets) + rng.pick(nuclei)).mkString
      if (w.length >= 4) seen += w
    }
    seen.toIndexedSeq
  }
  def words(n: Int): Vector[String] =
    Vector.fill(n)(if (rng.chance(0.3)) rng.pick(stops) else rng.pick(vocab))
  def sentence(ws: Seq[String]): String = {
    val s = ws.zipWithIndex.map { case (w, i) =>
      if (i == ws.length / 2 && ws.length > 8) w + "," else w
    }.mkString(" ")
    s.head.toUpper + s.tail + "."
  }
  def paragraph(sentences: Int): String =
    Seq.fill(sentences)(sentence(words(rng.between(9, 16)))).mkString(" ")
}

object Lang {
  val EnStops = IndexedSeq("the", "and", "of", "a", "to", "is", "in", "that", "for", "with")
  val DeStops = IndexedSeq("der", "die", "und", "das", "ist", "ein", "mit", "von", "zu", "den")
}

/** A synthetic site: its own host and its own class/id vocabulary (every
  * class and id string carries the site's prefix), nav and footer
  * boilerplate shared by all of its pages. */
final case class Site(host: String, prefix: String, name: String, lang: Lang,
                      nav: Seq[String], sidebar: Seq[String])

object Site {
  def apply(rng: Rng, i: Int, lang: Lang): Site = {
    val prefix = rng.hex(3) + Integer.toString(i, 36)
    Site(s"$prefix.example", prefix, lang.vocab(rng.int(lang.vocab.length)).capitalize, lang,
      Seq.fill(8)(rng.pick(lang.vocab)), Seq.fill(5)(lang.sentence(lang.words(5))))
  }

  /** One article page of `site`; `paras` become the post body. */
  def page(s: Site, rng: Rng, pageId: String, title: String,
           paras: Seq[String]): String = {
    val (p, lang) = (s.prefix, s.lang)
    val nav = s.nav.zipWithIndex
      .map { case (w, i) => s"""<li class="$p-navitem $p-menu-item-$i"><a href="/$w">$w</a></li>""" }.mkString
    val side = s.sidebar.zipWithIndex
      .map { case (t, i) => s"""<li id="$p-side-$i"><a href="/more/$i">$t</a></li>""" }.mkString
    val body = paras.map(x => s"<p>$x</p>").mkString("\n")
    s"""<!DOCTYPE html>
<html lang="${lang.code}"><head><meta charset="utf-8"><title>$title | ${s.name}</title></head>
<body><div class="$p-wrap" id="$p-wrap">
<div class="$p-header"><a class="$p-logo" href="/">${s.name}</a><ul class="$p-nav">$nav</ul>
<form class="$p-search" action="/search"><input name="q"></form></div>
<ol class="$p-breadcrumb"><li class="$p-crumb"><a href="/">${s.name}</a></li><li class="$p-crumb">${s.nav.head}</li></ol>
<div class="$p-ad-slot" id="$p-ad-top"><a href="/ad">${s.sidebar.head}</a></div>
<div class="$p-main" id="post-$pageId"><div class="$p-article">
<h1 class="$p-headline">$title</h1>
<p class="$p-byline">${lang.sentence(lang.words(4))}</p>
<div class="$p-post-body" id="body-$pageId">
$body
</div>
<div class="$p-share"><a href="/share/$pageId">share</a></div>
<ul class="$p-tags"><li>${rng.pick(lang.vocab)}</li><li>${rng.pick(lang.vocab)}</li></ul>
</div>
<div class="$p-sidebar"><div class="$p-widget"><ul>$side</ul></div>
<div class="$p-promo"><a href="/promo">${lang.sentence(lang.words(6))}</a></div>
<div class="$p-newsletter" id="$p-newsletter"><form action="/subscribe"><input name="email"></form></div>
<div class="$p-social"><a href="/follow">${s.nav.last}</a></div></div></div>
<div class="$p-related"><h3 class="$p-related-title">${s.name}</h3><ul class="$p-related-list">${
      s.sidebar.map(t => s"""<li class="$p-related-item"><a href="/r">$t</a></li>""").mkString}</ul></div>
<div class="$p-comments" id="comments-$pageId"><div class="$p-comment"><p>${lang.sentence(lang.words(10))}</p></div></div>
<div class="$p-footer"><ul class="$p-footer-links">${
      s.nav.zipWithIndex.map { case (w, i) => s"""<li class="$p-footer-link-$i"><a href="/about/$w">$w</a></li>""" }.mkString
    }</ul><p class="$p-copyright">${s.name} ${lang.sentence(lang.words(6))}</p></div>
</div></body></html>
"""
  }
}

/** Planted truth of the curate workload, by url. */
final case class CurateTruth(exactGroups: Seq[Seq[String]],
                             nearClusters: Seq[Seq[String]],
                             lowQuality: Set[String],
                             contaminated: Set[String],
                             german: Int, evalDocs: Int)

/** What the WARC input holds: its files, the response records written
  * and how many of those the reader must skip as malformed. */
final case class WarcTruth(files: Seq[String], responses: Int, malformed: Int)

/** One generated workload. `docs` are the pages the job should see (for
  * WARC input: the records the reader must accept); `failed` the urls
  * whose status must not be "ok". */
final case class Inputs(workload: String, dir: String, input: String,
                        evalPath: Option[String], docs: Vector[Page],
                        inputBytes: Long, failed: Set[String],
                        curate: Option[CurateTruth], warc: Option[WarcTruth])

/**
 * Seeded generators of the three workloads. Each workload's composition
 * (row counts, size mix, planted counts) is fixed; the seed picks the
 * words, urls, order, dates and which rows carry each plant, so runs
 * with different seeds do comparable work on different bytes.
 */
object Gen {

  val Workloads: Seq[String] = Seq("articles", "curate")

  /** Sizes — see perfbench/README.md for why. */
  val ArticleCopies = 20        // rows per real fixture article
  val ArticleGiants = 3         // ×20 giant rows (≈1% of the rows)
  val GiantFactor = 20
  val ArticleEmpty = 3          // planted empty-html rows
  val CuratePages = 180         // distinct base pages, each from its own site
  val CurateSites = 180         // each with its own class/id vocabulary
  val CurateExactDups = 24      // extra byte-identical copies at other urls
  val CurateNearChains = 12     // chains of 3 near-duplicates
  val CurateLowQuality = 20
  val CurateContaminated = 10
  val CurateEvalDocs = 16
  val CurateEmpty = 4
  val CurateMalformed = 6       // bad-status records, plus one truncated tail per file
  val CurateWarcFiles = 4

  val Epoch: Long = 1767225600000L // 2026-01-01T00:00:00Z
  private val DayMs = 86400L * 1000

  private def ts(rng: Rng): Timestamp =
    new Timestamp(Epoch + rng.int(7) * DayMs + rng.int(86400) * 1000L)

  def generate(spark: SparkSession, workload: String, seed: Long,
               dir: String, root: String): Inputs = {
    deleteTree(Paths.get(dir))
    Files.createDirectories(Paths.get(dir))
    val rng = new Rng(seed * 0x9E3779B97F4A7C15L + workload.hashCode)
    workload match {
      case "articles"   => articles(spark, rng, dir, root)
      case "curate"     => curate(spark, rng, dir)
      case other        => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  private def writePages(spark: SparkSession, docs: Seq[Page], path: String): Unit = {
    import spark.implicits._
    // few buckets: the PageTableIO layout without thousands of tiny files
    PageTableIO.write(spark.createDataset(docs).toDF(), path, numBuckets = 4)
  }

  /** Real fixture articles, `ArticleCopies` rows each, `ArticleGiants`
    * of them ×20, plus planted empty rows. The giants are the smallest
    * fixtures whose ×20 copy is above Salting's big-row threshold: every
    * seed carries the same tail, it exercises the big-row salt, and no
    * single giant outlasts the rest of the stage. */
  private def articles(spark: SparkSession, rng: Rng, dir: String, root: String): Inputs = {
    val fixtures = Files.list(Paths.get(root, "src/test/resources/fixtures/articles"))
      .toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".html"))
      .sortBy(_.getFileName.toString).toIndexedSeq
    require(fixtures.nonEmpty, "no fixture articles under src/test/resources/fixtures/articles")
    val html = fixtures.map(p => p.getFileName.toString.stripSuffix(".html") -> Files.readAllBytes(p))
    val giantIdx = html.sortBy(_._2.length)
      .filter(_._2.length.toLong * GiantFactor > Salting.DefaultBigBytes)
      .take(ArticleGiants).map(_._1).toSet
    val giants = html.collect { case (n, b) if giantIdx(n) =>
      n -> Array.concat(Seq.fill(GiantFactor)(b): _*) }.toMap
    val hosts = IndexedSeq.fill(40)(rng.hex(6) + ".example")
    val seen = scala.collection.mutable.Set[String]()
    def url(stem: String): String = {
      var u = ""
      do u = s"https://${rng.pick(hosts)}/$stem/${rng.hex(10)}" while (!seen.add(u))
      u
    }
    val rows = html.flatMap { case (n, b) =>
      (0 until ArticleCopies).map(i =>
        Page(url(n), ts(rng), if (i == 0 && giants.contains(n)) giants(n) else b, "", ""))
    } ++ Seq.fill(ArticleEmpty)(Page(url("empty"), ts(rng), Array.emptyByteArray, "", ""))
    val docs = rng.shuffle(rows)
    val pages = s"$dir/pages"
    writePages(spark, docs, pages)
    Inputs("articles", dir, pages, None, docs, treeBytes(Paths.get(pages)),
      docs.filter(_.html.isEmpty).map(_.url).toSet, None, None)
  }

  /** Writes `docs` as per-record-gzip WARC files in seeded order, with
    * `CurateMalformed` records the reader must skip (a garbled HTTP status
    * line) between them and a truncated record ending each file. */
  private def writeWarc(rng: Rng, docs: Seq[Page], warcDir: Path): WarcTruth = {
    Files.createDirectories(warcDir)
    val bad = Set.from(rng.shuffle(docs.indices).take(CurateMalformed))
    val recs = docs.zipWithIndex.flatMap { case (p, i) => if (bad(i)) Seq(None, Some(p)) else Seq(Some(p)) }
    val files = recs.grouped((recs.length + CurateWarcFiles - 1) / CurateWarcFiles).zipWithIndex.map { case (grp, f) =>
      val path = warcDir.resolve(f"crawl-$f%02d.warc.gz")
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(path))
      try {
        // writeWarcTo pulls one record at a time and writes it before
        // pulling the next, so a bad record written while the iterator
        // advances lands between its neighbours
        Warc.writeWarcTo(out, grp.iterator.flatMap {
          case Some(p) => Iterator.single((p.url, p.warc_ts.toInstant.toString, p.html))
          case None => out.write(gzip(malformedStatus(rng))); Iterator.empty
        }, gzipPerRecord = true)
        out.write(gzip(truncatedTail(rng)))
      } finally out.close()
      path.toString
    }.toVector
    // responses written: the pages, the bad-status records and one
    // truncated tail per file (each file also opens with a warcinfo)
    WarcTruth(files, docs.length + bad.size + files.length, bad.size + files.length)
  }

  private def malformedStatus(rng: Rng): Array[Byte] = {
    val payload = s"HTTP/1.1 ??? garbled\r\nContent-Type: text/html\r\n\r\n<p>${rng.hex(16)}</p>"
      .getBytes(UTF_8)
    (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://bad.example/${rng.hex(8)}\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
  }

  private def truncatedTail(rng: Rng): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://cut.example/${rng.hex(8)}\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: 100000\r\n\r\nHTTP/1.1 200 OK\r\n")
      .getBytes(UTF_8)

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** Distinct pages from many sites in two languages, with planted exact
    * duplicates, near-duplicate chains, repetitive low-quality pages,
    * eval-set contamination and empty records, as a WARC crawl drop;
    * plus the eval table. */
  private def curate(spark: SparkSession, rng: Rng, dir: String): Inputs = {
    val en = new Lang(rng, "en", Lang.EnStops, 3000)
    val de = new Lang(rng, "de", Lang.DeStops, 3000)
    val evalLang = new Lang(rng, "en", Lang.EnStops, 3000)
    val sites = IndexedSeq.tabulate(CurateSites)(i => Site(rng, i, if (i % 3 == 2) de else en))
    val seen = scala.collection.mutable.Set[String]()
    def url(s: Site): String = {
      var u = ""
      do u = s"https://${s.host}/${rng.hex(4)}/${rng.hex(8)}" while (!seen.add(u))
      u
    }
    final case class Spec(site: Site, id: String, title: String, paras: Vector[String])
    def spec(s: Site): Spec = {
      val l = s.lang
      Spec(s, rng.hex(8), l.sentence(l.words(rng.between(4, 8))).stripSuffix("."),
        Vector.fill(rng.between(4, 6))(l.paragraph(rng.between(4, 6))))
    }
    def render(sp: Spec): Array[Byte] =
      Site.page(sp.site, rng, sp.id, sp.title, sp.paras).getBytes(UTF_8)

    val evalDocs = Vector.tabulate(CurateEvalDocs)(i =>
      (s"eval://bench/$i", evalLang.paragraph(rng.between(8, 12))))

    // base pages: the first slots carry the plants
    val base = Vector.tabulate(CuratePages)(i => spec(sites(i % CurateSites)))
    var k = 0
    def take(n: Int): Vector[Spec] = { val r = base.slice(k, k + n); k += n; r }
    val dupSrc = take(CurateExactDups)
    val chainSrc = take(CurateNearChains)
    val lowSrc = take(CurateLowQuality)
    val contSrc = take(CurateContaminated)
    val plain = base.drop(k)

    def mutate(sp: Spec): Spec = {
      val l = sp.site.lang
      val pi = rng.int(sp.paras.length)
      val ws = sp.paras(pi).split(" ")
      (0 until 2).foreach(_ => ws(rng.int(ws.length)) = rng.pick(l.vocab))
      sp.copy(paras = sp.paras.updated(pi, ws.mkString(" ")))
    }

    val plainRows = plain.map(sp => Page(url(sp.site), ts(rng), render(sp), "", ""))
    val dupGroups = dupSrc.map { sp =>
      val html = render(sp)
      Vector(Page(url(sp.site), ts(rng), html, "", ""), Page(url(sp.site), ts(rng), html, "", ""))
    }
    val chains = chainSrc.map { sp =>
      val b = mutate(sp); val c = mutate(b)
      Vector(sp, b, c).map(x => Page(url(x.site), ts(rng), render(x), "", ""))
    }
    val low = lowSrc.map { sp =>
      val l = sp.site.lang
      val phrase = l.sentence(l.words(6))
      Page(url(sp.site), ts(rng), render(sp.copy(paras = Vector(Seq.fill(40)(phrase).mkString(" ")))), "", "")
    }
    val cont = contSrc.zipWithIndex.map { case (sp, i) =>
      Page(url(sp.site), ts(rng),
        render(sp.copy(paras = sp.paras.updated(1, evalDocs(i)._2))), "", "")
    }
    val empty = Vector.fill(CurateEmpty)(Page(url(rng.pick(sites)), ts(rng), Array.emptyByteArray, "", ""))
    val docs = rng.shuffle(plainRows ++ dupGroups.flatten ++ chains.flatten ++ low ++ cont ++ empty)

    val warcDir = Paths.get(dir, "warc")
    val warc = writeWarc(rng, docs, warcDir)
    val evalPath = s"$dir/eval"
    import spark.implicits._
    evalDocs.toDF("url", "text").repartition(1).write.parquet(evalPath)
    Inputs("curate", dir, warcDir.toString, Some(evalPath), docs,
      treeBytes(warcDir) + treeBytes(Paths.get(evalPath)),
      empty.map(_.url).toSet,
      Some(CurateTruth(dupGroups.map(_.map(_.url)), chains.map(_.map(_.url)),
        low.map(_.url).toSet, cont.map(_.url).toSet,
        german = docs.count(d => d.html.nonEmpty && new String(d.html, UTF_8).contains("lang=\"de\"")),
        evalDocs = evalDocs.length)),
      Some(warc))
  }

  // ---- files --------------------------------------------------------------

  def files(root: Path): Vector[Path] =
    if (!Files.exists(root)) Vector.empty
    else {
      val s = Files.walk(root)
      try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_)).sortBy(_.toString).toVector
      finally s.close()
    }

  def treeBytes(root: Path): Long = files(root).map(Files.size).sum

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount).foreach(Files.delete)
      finally s.close()
    }

  private val Uuid = "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** SHA-256 over every generated file (relative path with Spark's per-write
    * file uuid removed, then the bytes): equal digests ⇔ byte-identical inputs. */
  def digest(dir: String): String = {
    val root = Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files(root).map(p => Uuid.replaceAllIn(root.relativize(p).toString, "") -> p)
      .sortBy(_._1).foreach { case (name, p) =>
        md.update(name.getBytes(UTF_8)); md.update(0.toByte)
        md.update(Files.readAllBytes(p))
      }
    md.digest().map(b => f"$b%02x").mkString
  }
}
