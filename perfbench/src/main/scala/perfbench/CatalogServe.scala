package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.ops.{CatalogQueries, MetaSync, Moderation, Reports}
import graft.ops.CatalogQueries.SearchParams

/** The read side of catalog_sync: a closed loop of 2 clients issuing the
  * reference service's read requests against a seeded movies table. */
final class CatalogServe(val ctx: Ctx) extends Workload {
  import ctx._

  private val n = if (tiny) 5000 else 50000
  private val nReports = if (tiny) 2000 else 10000
  private val clients = 2
  private val warmRequests = if (tiny) 6 else 16

  // ---- the generator's view of the table, for the output checks ------

  private object ix {
    val tpe = new Array[Boolean](n + 1) // true = movie
    val genres = new Array[Int](n + 1) // bit i = Gen.Genres(i)
    val countries = new Array[Int](n + 1)
    val animated = new Array[Boolean](n + 1)
    val release = new Array[String](n + 1)
    val year = new Array[Int](n + 1)
    val lastPop = new Array[Boolean](n + 1)
    val frames = new Array[Boolean](n + 1)
    val popularity = new Array[Double](n + 1)
    val voteAverage = new Array[Double](n + 1)
    val title = new Array[String](n + 1)
    val titleRu = new Array[String](n + 1)
    (1 to n).foreach { i =>
      val m = Gen.movie(seed, i)
      tpe(i) = m.tpe == "movie"
      genres(i) = m.genreIds.map(g => 1 << Gen.Genres.indexOf(g)).foldLeft(0)(_ | _)
      countries(i) = m.productionCountries.map(c => 1 << Gen.Countries.indexOf(c)).foldLeft(0)(_ | _)
      animated(i) = m.isAnimated
      release(i) = m.releaseDate
      year(i) = if (m.year == null) -1 else m.year.intValue
      lastPop(i) = m.lastPopularitySyncAt != null
      frames(i) = m.hasFrames
      popularity(i) = m.popularity
      voteAverage(i) = m.voteAverage
      title(i) = m.title
      titleRu(i) = m.titleRu
    }
  }

  private def matches(p: SearchParams, i: Int): Boolean =
    (!p.requireFrames || ix.frames(i)) &&
      p.genre.forall(g => (ix.genres(i) & (1 << Gen.Genres.indexOf(g))) != 0) &&
      p.country.forall(c => (ix.countries(i) & (1 << Gen.Countries.indexOf(c))) != 0) &&
      p.isAnimated.forall(_ == ix.animated(i)) &&
      p.contentType.forall(t => (t == "movie") == ix.tpe(i)) &&
      p.yearFrom.forall(y => ix.release(i) != null && ix.release(i) >= f"$y%04d-01-01") &&
      p.yearTo.forall(y => ix.release(i) != null && ix.release(i) <= f"$y%04d-12-31")

  private def sortKey(p: SearchParams, i: Int): Double =
    if (p.sortBy == "popularity") ix.popularity(i) else ix.voteAverage(i)

  private def expectedPage(p: SearchParams): Seq[Long] = {
    val hits = (1 to n).filter(matches(p, _))
    val ord = Ordering.fromLessThan[Int] { (a, b) =>
      val (ka, kb) = (sortKey(p, a), sortKey(p, b))
      if (ka != kb) (if (p.descending) ka > kb else ka < kb) else a < b
    }
    hits.sorted(ord).slice(p.skip, p.skip + p.limit).map(_.toLong)
  }

  // ---- request pools ---------------------------------------------------
  //
  // The pools and the clients' request sequences come from a fixed seed;
  // --seed changes the table. Otherwise which parameter set is hot (the
  // Zipf head) changes with the seed and moves the median request more
  // than any program change worth detecting.

  private val RequestSeed = 20261017L

  private val searchPool: IndexedSeq[SearchParams] = {
    val r = Gen.rng(RequestSeed, 101L)
    (0 until 64).map { _ =>
      val yf = if (r.nextInt(100) < 40) Some(1970 + r.nextInt(50)) else None
      SearchParams(
        genre = if (r.nextInt(100) < 70) Some(Gen.Genres(r.nextInt(Gen.Genres.length))) else None,
        country = if (r.nextInt(100) < 40) Some(Gen.Countries(r.nextInt(Gen.Countries.length))) else None,
        isAnimated = if (r.nextInt(100) < 10) Some(r.nextBoolean()) else None,
        contentType = if (r.nextBoolean()) Some("movie") else None,
        yearFrom = yf,
        yearTo = if (r.nextInt(100) < 30) Some(yf.getOrElse(1970) + 5 + r.nextInt(20)) else None,
        requireFrames = r.nextInt(100) < 90,
        sortBy = if (r.nextBoolean()) "popularity" else "vote_average",
        descending = r.nextInt(100) < 80,
        skip = Array(0, 0, 0, 20, 50)(r.nextInt(5)),
        limit = Array(10, 20, 50)(r.nextInt(3)))
    }
  }
  private val expectedSearch = searchPool.map(expectedPage)
  /** Zipf(1) over the pool ranks, so a measured share of searches repeat. */
  private val zipfCdf = {
    val w = searchPool.indices.map(k => 1.0 / (k + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  private val regexPool: IndexedSeq[String] = {
    val r = Gen.rng(RequestSeed, 102L)
    (0 until 12).map { k =>
      if (k % 3 == 0) Gen.RuWords(r.nextInt(Gen.RuWords.length))
      else if (k % 3 == 1) s"${Gen.TitleWords(r.nextInt(Gen.TitleWords.length))} ${Gen.TitleWords(r.nextInt(Gen.TitleWords.length))}"
      else s"^${Gen.TitleWords(r.nextInt(Gen.TitleWords.length))}.* 1[0-9]$$"
    }
  }
  private val regexCount: IndexedSeq[Int] = regexPool.map { q =>
    val p = java.util.regex.Pattern.compile(s"(?i)$q")
    (1 to n).count(i => p.matcher(ix.title(i)).find() || (ix.titleRu(i) != null && p.matcher(ix.titleRu(i)).find()))
  }

  /** Expected reportStats: (movie_id, frame_path, content_type) -> (count, truthy-reason count). */
  private val expectedReports: Map[(Long, String, String), (Long, Long)] =
    (0L until nReports).map(i => Gen.report(seed, i, n)).groupBy(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .map { case (k, rs) => k -> (rs.size.toLong, rs.count(r => r.getString(3) != null && r.getString(3).nonEmpty).toLong) }

  // ---- generation --------------------------------------------------------

  @volatile private var movies: DataFrame = _
  @volatile private var reports: DataFrame = _

  override def generate(dir: String): Unit = {
    val s = seed
    val rdd = spark.sparkContext.range(1L, n + 1L, 1L, 4).map(id => Gen.movieRow(Gen.movie(s, id)))
    spark.createDataFrame(rdd, Gen.MovieSchema).write.parquet(s"$dir/movies")
    val nm = n.toLong
    val rep = spark.sparkContext.range(0L, nReports.toLong, 1L, 4).map(i => Gen.report(s, i, nm))
    spark.createDataFrame(rep, Gen.ReportSchema).write.parquet(s"$dir/reports")
    movies = spark.read.parquet(s"$dir/movies")
    reports = spark.read.parquet(s"$dir/reports")
  }

  override def warm(): Unit = runClients(Long.MaxValue, warmRequests, seedOffset = 1000L)

  // ---- the closed loop ---------------------------------------------------

  private val samples = new ConcurrentLinkedQueue[(String, Double)]
  private val seenSearch = ConcurrentHashMap.newKeySet[Int]()
  private val searches = new java.util.concurrent.atomic.AtomicLong
  private val repeats = new java.util.concurrent.atomic.AtomicLong
  private var wall = 0.0

  override def measure(): Unit = {
    val t0 = System.nanoTime()
    runClients(t0 + (seconds * 1e9).toLong, Int.MaxValue, seedOffset = 0L)
    wall = Sys.secondsSince(t0)
  }

  private def runClients(deadline: Long, maxRequests: Int, seedOffset: Long): Unit = {
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val r = Gen.rng(RequestSeed, 500L + c + seedOffset)
        var k = 0
        while (k < maxRequests && System.nanoTime() < deadline) { request(r); k += 1 }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Build the request's frame (library call), collect it (the action),
    * then check the rows outside the timed part. */
  private def timed(kind: String)(build: => DataFrame)(check: Array[Row] => Boolean): Unit =
    op(kind) {
      tracer.span(kind, "ops") {
        val t0 = System.nanoTime()
        val df = tracer.span("build", "ops")(build)
        val t1 = System.nanoTime()
        val rows = tracer.span("collect", "spark")(df.collect())
        val t2 = System.nanoTime()
        if (tracer.phase == "measure") samples.add(kind -> (t2 - t0) / 1e6)
        tracer.note("build_ms", (t1 - t0) / 1e6)
        tracer.note("exec_ms", (t2 - t1) / 1e6)
        tracer.note("rows_out", rows.length.toDouble)
        tracer.notePhases(df)
        check(rows)
      }
    }

  private def request(r: java.util.SplittableRandom): Unit = {
    val u = r.nextInt(100)
    if (u < 50) {
      val x = r.nextDouble()
      val k = zipfCdf.indexWhere(_ >= x) match { case -1 => searchPool.size - 1; case i => i }
      if (tracer.phase == "measure") {
        searches.incrementAndGet()
        if (!seenSearch.add(k)) repeats.incrementAndGet()
      }
      val p = searchPool(k)
      timed("search")(CatalogQueries.search(movies, p)) { rows =>
        rows.length <= p.limit && rows.map(_.getAs[Long]("id")).toSeq == expectedSearch(k) &&
          rows.forall(row => matches(p, row.getAs[Long]("id").toInt) && rowSatisfies(p, row))
      }
    } else if (u < 70) {
      val ids = (0 until 10).map(_ => 1L + r.nextLong(n.toLong)).distinct :+ (n + 1000L + r.nextInt(1000))
      timed("by_ids")(CatalogQueries.byIds(movies, ids)) { rows =>
        val got = rows.map(row => row.getAs[Long]("id")).toSet
        got == ids.filter(_ <= n).toSet && rows.forall { row =>
          val i = row.getAs[Long]("id").toInt
          row.getAs[String]("title") == ix.title(i) && row.getAs[Double]("popularity") == ix.popularity(i)
        }
      }
    } else if (u < 80) {
      val id = 1 + r.nextInt(n)
      val asMovie = if (r.nextInt(100) < 80) ix.tpe(id) else !ix.tpe(id)
      timed("by_id")(CatalogQueries.byId(movies, id.toLong, if (asMovie) "movie" else "tv")) { rows =>
        if (asMovie == ix.tpe(id)) rows.length == 1 && rows(0).getAs[String]("title") == ix.title(id)
        else rows.isEmpty
      }
    } else if (u < 90) {
      val k = r.nextInt(regexPool.size)
      val q = regexPool(k)
      val pat = java.util.regex.Pattern.compile(s"(?i)$q")
      timed("regex")(CatalogQueries.titleRegexSearch(movies, q).limit(50)) { rows =>
        rows.length == math.min(50, regexCount(k)) && rows.forall { row =>
          pat.matcher(row.getAs[String]("title")).find() ||
            Option(row.getAs[String]("title_ru")).exists(t => pat.matcher(t).find())
        }
      }
    } else if (u < 95) {
      val id = 1 + r.nextInt(n)
      val m = Gen.movie(seed, id)
      val paths = (m.frames.take(1).map(_.path) :+ s"/f/$id/missing.jpg").toSeq
      val mark = r.nextBoolean()
      timed("moderate") {
        if (mark) Moderation.markIncorrect(movies, id.toLong, m.tpe, paths).response
        else Moderation.unmarkIncorrect(movies, id.toLong, m.tpe, paths).response
      } { rows =>
        val incorrect = if (mark) m.incorrectFrames.toSet ++ paths else m.incorrectFrames.toSet -- paths
        val framePaths = m.frames.map(_.path).toSet
        rows.length == 1 &&
          rows(0).getAs[String]("backdrop_path") == Gen.pickBackdrop(m.frames, incorrect) &&
          rows(0).getSeq[String](1) == paths &&
          rows(0).getSeq[String](2) == paths.filter(framePaths).distinct &&
          rows(0).getSeq[String](3) == paths.filterNot(framePaths).distinct
      }
    } else if (r.nextBoolean()) {
      val y1 = 1970 + r.nextInt(40)
      val y2 = y1 + r.nextInt(15)
      timed("report")(MetaSync.coverage(movies, "movie", y1, y2)) { rows =>
        val want = (y1 to y2).flatMap { y =>
          val is = (1 to n).filter(i => ix.tpe(i) && ix.year(i) == y)
          if (is.isEmpty) None else Some((y, is.size.toLong, is.count(ix.lastPop(_)).toLong))
        }
        rows.map(row => (row.getAs[Int]("year"), row.getAs[Long]("total"), row.getAs[Long]("with_popularity"))).toSeq == want
      }
    } else {
      timed("report")(Reports.reportStats(reports)) { rows =>
        rows.length == expectedReports.size && rows.forall { row =>
          val key = (row.getAs[Long]("movie_id"), row.getAs[String]("frame_path"), row.getAs[String]("content_type"))
          val hist = row.getMap[String, Long](4)
          expectedReports.get(key).contains((row.getAs[Long]("count"), hist.values.sum))
        }
      }
    }
  }

  /** The request's predicates, checked on the returned projection. */
  private def rowSatisfies(p: SearchParams, row: Row): Boolean = {
    val frames = Option(row.getAs[scala.collection.Seq[Row]]("frames"))
    (!p.requireFrames || frames.exists(_.nonEmpty)) &&
      p.genre.forall(g => row.getSeq[Int](row.fieldIndex("genre_ids")).contains(g)) &&
      p.country.forall(c => row.getSeq[String](row.fieldIndex("country_codes")).contains(c)) &&
      p.contentType.forall(_ == row.getAs[String]("_type"))
  }

  // ---- metrics -----------------------------------------------------------

  private val Kinds = Seq("search", "by_ids", "by_id", "regex", "moderate", "report")

  private def lat(kind: Option[String]): Seq[Double] =
    samples.asScala.toSeq.filter(s => kind.forall(_ == s._1)).map(_._2)

  override def wallSeconds: Double = wall

  override def e2e: Map[String, Double] = Map("read_p50_ms" -> Stats.median(lat(None)))

  override def layer: Map[String, Double] = {
    val ops = tracer.measuredOps.filter(s => Kinds.contains(s.name))
    val rowsOut = ops.flatMap(_.attrs.get("rows_out")).sum
    val examined = tracer.stagesOf(tracer.jobsOf(ops.map(_.id).toSet)).map(_.inputRecords).sum
    Map(
      "catalog.p50_ms" -> Stats.median(lat(None)),
      "catalog.p90_ms" -> Stats.pct(lat(None), 90),
      "catalog.ops_per_s" -> samples.size / math.max(wall, 1e-9),
      "catalog.repeat_share" -> repeats.get.toDouble / math.max(1L, searches.get),
      "scan.rows_examined_per_row_returned" -> examined / math.max(1.0, rowsOut)) ++
      Kinds.map { k =>
        s"ops.${k}_p50_ms" -> Stats.median(lat(Some(k)))
      }
  }

  override def check(): Unit = ()
}
