package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every row is a pure function of (seed, key),
  * so executors generate the tables in parallel and the driver recomputes
  * any row it needs for an output check without reading the files back. */
object Gen {

  def rng(seed: Long, key: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + key))

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  // ---- movies (the catalog table and the sync state) ------------------

  val Genres: Array[Int] = Array(12, 14, 16, 18, 27, 28, 35, 36, 53, 80, 99, 878, 10749, 10751)
  val Countries: Array[String] = Array("US", "GB", "FR", "DE", "JP", "KR", "RU", "IN", "ES", "IT")
  val TitleWords: Array[String] = Array("night", "star", "river", "shadow", "city", "dream",
    "winter", "storm", "garden", "mirror", "ghost", "summer", "iron", "silent", "golden",
    "last", "lost", "road", "empire", "heart", "ocean", "secret", "wild", "glass")
  val RuWords: Array[String] = Array("ночь", "звезда", "река", "тень", "город", "сон",
    "зима", "буря", "сад", "зеркало", "призрак", "лето")

  final case class Frame(path: String, aspectRatio: Double, voteAverage: Double, width: Int)

  final case class Movie(id: Long, tpe: String, title: String, titleRu: String,
      name: String, genreIds: Array[Int], releaseDate: String, year: Integer,
      popularity: Double, voteAverage: Double, voteCount: Long,
      productionCountries: Array[String], isAnimated: Boolean,
      frames: Array[Frame], incorrectFrames: Array[String], backdropPath: String,
      createdAt: Timestamp, syncedAt: Timestamp,
      lastPopularitySyncAt: Timestamp, lastVoteCountSyncAt: Timestamp) {
    def hasFrames: Boolean = frames.nonEmpty
  }

  private val Epoch = 1700000000000L

  def title(r: SplittableRandom, id: Long): String = {
    val n = 2 + r.nextInt(2)
    (0 until n).map { _ => val w = TitleWords(r.nextInt(TitleWords.length)); w.head.toUpper + w.tail }
      .mkString(" ") + s" ${id % 997}"
  }

  def movie(seed: Long, id: Long): Movie = {
    val r = rng(seed, id)
    val tpe = if (r.nextInt(100) < 85) "movie" else "tv"
    val t = title(r, id)
    val titleRu = if (r.nextBoolean()) RuWords(r.nextInt(RuWords.length)) + " " + RuWords(r.nextInt(RuWords.length)) else null
    val genreIds = (0 until 1 + r.nextInt(3)).map(_ => Genres(r.nextInt(Genres.length))).distinct.toArray
    val y = 1970 + r.nextInt(56)
    val releaseDate = if (r.nextInt(100) < 3) null else f"$y%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    val popularity = math.exp(r.nextGaussian()) * 10.0
    val voteAverage = (10 + r.nextInt(91)) / 10.0
    val voteCount = r.nextInt(50000).toLong
    val countries = (0 until 1 + r.nextInt(2)).map(_ => Countries(r.nextInt(Countries.length))).distinct.toArray
    val nFrames = if (r.nextInt(100) < 20) 0 else 1 + r.nextInt(6)
    val frames = (0 until nFrames).map { j =>
      Frame(s"/f/$id/$j.jpg", 1.78, (r.nextInt(101)) / 10.0, Array(1280, 1920, 3840)(r.nextInt(3)))
    }.toArray
    val incorrect =
      if (frames.nonEmpty && r.nextInt(100) < 10) Array(frames(r.nextInt(frames.length)).path)
      else Array.empty[String]
    val ts = new Timestamp(Epoch + id * 1000L)
    Movie(id, tpe, t, titleRu, if (tpe == "tv") t else null, genreIds, releaseDate,
      if (releaseDate == null) null else Integer.valueOf(y), popularity, voteAverage, voteCount,
      countries, genreIds.contains(16), frames, incorrect, pickBackdrop(frames, incorrect.toSet),
      ts, ts, if (r.nextInt(100) < 60) ts else null, if (r.nextInt(100) < 40) ts else null)
  }

  /** The backdrop rule: the valid frame with the largest (vote_average,
    * width), first occurrence on ties. */
  def pickBackdrop(frames: Array[Frame], incorrect: Set[String]): String = {
    var best: Frame = null
    frames.foreach { f =>
      if (f.path != null && f.path.nonEmpty && !incorrect(f.path)) {
        if (best == null || f.voteAverage > best.voteAverage ||
          (f.voteAverage == best.voteAverage && f.width > best.width)) best = f
      }
    }
    if (best == null) null else best.path
  }

  val FrameType: StructType = StructType(Seq(
    StructField("path", StringType), StructField("aspect_ratio", DoubleType),
    StructField("vote_average", DoubleType), StructField("width", IntegerType)))
  val CountryType: StructType = StructType(Seq(
    StructField("iso_3166_1", StringType), StructField("name", StringType)))

  val MovieSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("_type", StringType),
    StructField("title", StringType), StructField("title_ru", StringType),
    StructField("name", StringType), StructField("genre_ids", ArrayType(IntegerType)),
    StructField("release_date", StringType), StructField("year", IntegerType),
    StructField("popularity", DoubleType), StructField("vote_average", DoubleType),
    StructField("vote_count", LongType),
    StructField("production_countries", ArrayType(CountryType)),
    StructField("country_codes", ArrayType(StringType)),
    StructField("is_animated", BooleanType), StructField("frames", ArrayType(FrameType)),
    StructField("incorrect_frames", ArrayType(StringType)),
    StructField("backdrop_path", StringType), StructField("created_at", TimestampType),
    StructField("synced_at", TimestampType),
    StructField("last_popularity_sync_at", TimestampType),
    StructField("last_vote_count_sync_at", TimestampType)))

  def frameRows(fs: Array[Frame]): Seq[Row] =
    fs.toSeq.map(f => Row(f.path, f.aspectRatio, f.voteAverage, f.width))

  def movieRow(m: Movie): Row = Row(m.id, m.tpe, m.title, m.titleRu, m.name,
    m.genreIds.toSeq, m.releaseDate, m.year, m.popularity, m.voteAverage, m.voteCount,
    m.productionCountries.toSeq.map(c => Row(c, s"country $c")), m.productionCountries.toSeq,
    m.isAnimated, frameRows(m.frames), m.incorrectFrames.toSeq, m.backdropPath,
    m.createdAt, m.syncedAt, m.lastPopularitySyncAt, m.lastVoteCountSyncAt)

  /** Frame-report rows for `Reports.reportStats`: (movie_id, frame_path,
    * content_type, reason), falsy reasons included. */
  val ReportSchema: StructType = StructType(Seq(
    StructField("movie_id", LongType), StructField("frame_path", StringType),
    StructField("content_type", StringType), StructField("reason", StringType)))
  private val Reasons = Array("spam", "wrong movie", "blurry", "duplicate", null, "")

  def report(seed: Long, i: Long, nMovies: Long): Row = {
    val r = rng(seed ^ 0x7e9047L, i)
    // a small hot set of movies draws most reports, so groups repeat
    val m = if (r.nextInt(100) < 70) 1 + r.nextLong(math.max(1L, nMovies / 50)) else 1 + r.nextLong(nMovies)
    Row(m, s"/f/$m/${r.nextInt(3)}.jpg", if (r.nextInt(100) < 85) "movie" else "tv",
      Reasons(r.nextInt(Reasons.length)))
  }

  // ---- the discover feed for the sync ---------------------------------

  /** One feed item in the sync's page order. `id` is None for a planted
    * poisoned item; `existing` says whether the id is already in the
    * seeded state. */
  final case class FeedItem(id: Option[Long], existing: Boolean, title: String,
      voteCount: Long, popularity: Double)

  /** `n` feed items: a seeded `nullShare` of null ids, about half of the
    * rest already in the state (movie rows among ids 1..stateRows, each at
    * most once) and
    * half new (ids above stateRows). vote_count strictly decreases with
    * the position, so the sync's vote_count order is the feed order. */
  def feed(seed: Long, n: Int, stateRows: Long, nullShare: Double): IndexedSeq[FeedItem] = {
    var nextNew = stateRows + 1
    var k = 0L
    // a multiplicative walk over 1..stateRows: distinct while k < stateRows
    val stride = Iterator.from(2 + rng(seed, -7L).nextInt(1000))
      .find(s => java.math.BigInteger.valueOf(s.toLong).gcd(java.math.BigInteger.valueOf(stateRows)).intValue == 1).get
    (0 until n).map { pos =>
      val r = rng(seed ^ 0xfeedL, pos)
      val voteCount = 10000000L - pos
      val pop = math.exp(r.nextGaussian()) * 10.0
      if (r.nextDouble() < nullShare) FeedItem(None, existing = false, s"Poisoned $pos", voteCount, pop)
      else if (r.nextBoolean() && k < stateRows) {
        // the feed serves movies, so an existing item is a "movie" state row
        var id = 0L
        while ({ id = (k * stride) % stateRows + 1; k += 1; movie(seed, id).tpe != "movie" && k < stateRows }) ()
        FeedItem(Some(id), existing = true, title(r, id), voteCount, pop)
      } else {
        val id = nextNew; nextNew += 1
        FeedItem(Some(id), existing = false, title(r, id), voteCount, pop)
      }
    }
  }

  def feedJson(it: FeedItem): String = {
    val id = it.id.map(_.toString).getOrElse("null")
    val t = it.title.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"id":$id,"title":"$t","vote_count":${it.voteCount},"popularity":${it.popularity}}"""
  }

  // ---- the corpus: documents and embeddings ---------------------------

  /** The word vocabulary and length range of the repository's sf0.1
    * documents table. */
  val DocWords: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** Document `id` (1-based): fresh text, or a planted exact copy or
    * near copy (a few words replaced) of an earlier document. Returns
    * (text, lang, exactOf) where exactOf is the id it exactly copies, or 0. */
  def doc(seed: Long, id: Long): (String, String, Long) = {
    val r = rng(seed ^ 0xd0cL, id)
    val lang = Langs(r.nextInt(Langs.length))
    val roll = r.nextInt(100)
    if (id > 20 && roll < 5) {
      val src = exactRoot(seed, 1 + r.nextLong(id - 1))
      (doc(seed, src)._1, lang, src)
    } else if (id > 20 && roll < 13) {
      val words = doc(seed, 1 + r.nextLong(id - 1))._1.split(" ")
      (0 until 1 + r.nextInt(2)).foreach(_ => words(r.nextInt(words.length)) = DocWords(r.nextInt(DocWords.length)))
      (words.mkString(" "), lang, 0L)
    } else {
      val n = 10 + r.nextInt(91)
      ((0 until n).map(_ => DocWords(r.nextInt(DocWords.length))).mkString(" "), lang, 0L)
    }
  }

  /** The first document of `id`'s exact-copy chain. */
  def exactRoot(seed: Long, id: Long): Long = {
    val e = doc(seed, id)._3
    if (e == 0L) id else e
  }

  val Dim = 64

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def center(seed: Long, label: Int): Array[Double] = {
    val r = rng(seed ^ 0xce17L, label)
    unit(Array.fill(Dim)(r.nextGaussian()))
  }

  /** Vector `id` (1-based) of a corpus whose planted copies refer only to
    * ids in [lo, id): a fresh clustered unit vector, an exact copy, or a
    * near copy (cosine about 0.99). Returns (vector, label, exactOf). */
  def vector(seed: Long, id: Long, lo: Long): (Array[Float], Int, Long) = {
    val r = rng(seed ^ 0xec7L, id)
    val roll = r.nextInt(100)
    if (id - lo > 20 && roll < 4) {
      val src = vectorRoot(seed, lo + r.nextLong(id - lo), lo)
      val (v, l, _) = vector(seed, src, lo)
      (v, l, src)
    } else if (id - lo > 20 && roll < 10) {
      val (v, l, _) = vector(seed, lo + r.nextLong(id - lo), lo)
      (unit(v.map(x => x + 0.01 * r.nextGaussian())).map(_.toFloat), l, 0L)
    } else {
      val label = r.nextInt(10)
      val c = center(seed, label)
      (unit(c.map(x => 0.35 * x + r.nextGaussian() / math.sqrt(Dim))).map(_.toFloat), label, 0L)
    }
  }

  def vectorRoot(seed: Long, id: Long, lo: Long): Long = {
    val e = vector(seed, id, lo)._3
    if (e == 0L) id else e
  }

  /** A query: a corpus vector in [1, base] with noise, renormalized. */
  def query(seed: Long, i: Int, base: Long): Array[Float] = {
    val r = rng(seed ^ 0x9e7L, i)
    val (v, _, _) = vector(seed, 1 + r.nextLong(base), 1L)
    unit(v.map(x => x + 0.03 * r.nextGaussian())).map(_.toFloat)
  }
}
