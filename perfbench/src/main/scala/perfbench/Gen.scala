package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every input the engine sees is produced here
  * from the run's seed, together with the ground truth the output checks
  * compare against; the same seed gives byte-identical files. */
object Gen {

  /** Zipf(s) sampler over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val areas = Array("Cardiology", "Oncology", "Neurology", "Pediatrics",
    "Infectious Disease", "Endocrinology", "Psychiatry", "Dermatology",
    "Emergency Medicine", "Gastroenterology", "Nephrology", "Rheumatology")

  /** One click event of the TripClick raw shape (`TripClick.rawSchema`). */
  final case class Event(key: String, session: String, doc: Int, ts: LocalDateTime) {
    def date: String = ts.toLocalDate.toString
    def minute: LocalDateTime = ts.withSecond(0)
    def json: String = {
      val a1 = areas(doc % areas.length)
      val a2 = areas((doc / 3 + 5) % areas.length)
      val ms = ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L
      s"""{"DateCreated":"/Date($ms)/","SessionId":"$session","DocumentId":$doc,""" +
        s""""Url":"https://trip.example/doc/$doc","Title":"Clinical evidence review $doc",""" +
        s""""DOI":"10.1000/trip.$doc","Keywords":"kw${doc % 41},kw${doc % 7}",""" +
        s""""ClinicalAreas":"$a1,$a2","Documents":["d$doc","d${doc / 2}"],""" +
        s""""event_ts":"${ts.format(tsFmt)}","event_date":"$date","dedup_key":"$key"}"""
    }
  }

  /** A corrupt line: the JSON of `e` cut before its closing brace. */
  private def corrupt(e: Event, r: SplittableRandom): String = {
    val j = e.json
    j.substring(0, 10 + r.nextInt(j.length - 20))
  }

  /** Distinct events, sessions and documents per group. */
  final class Tally {
    val events = mutable.Map.empty[String, mutable.Set[String]]
    val sessions = mutable.Map.empty[String, mutable.Set[String]]
    val docs = mutable.Map.empty[String, mutable.Set[Int]]
    def add(group: String, e: Event): Unit = {
      events.getOrElseUpdate(group, mutable.Set.empty) += e.key
      sessions.getOrElseUpdate(group, mutable.Set.empty) += e.session
      docs.getOrElseUpdate(group, mutable.Set.empty) += e.doc
      ()
    }
    def counts: Map[String, (Long, Long, Long)] = events.keys.map { g =>
      g -> ((events(g).size.toLong, sessions(g).size.toLong, docs(g).size.toLong))
    }.toMap
  }

  /** The knobs the seed draws for the daily drops. */
  final case class Shape(zipf: Double, dupShare: Double, replayShare: Double,
      lateShare: Double, corruptShare: Double)

  def shape(seed: Long): Shape = {
    val r = new SplittableRandom(mix64(seed ^ 0x5eedL))
    Shape(zipf = 0.9 + 0.4 * r.nextDouble(), dupShare = 0.03 + 0.05 * r.nextDouble(),
      replayShare = 0.01 + 0.02 * r.nextDouble(), lateShare = 0.02 + 0.03 * r.nextDouble(),
      corruptShare = 0.002 + 0.004 * r.nextDouble())
  }

  /** Write `lines` as a JSON-lines file; returns the path. */
  def write(path: Path, lines: Seq[String]): String = {
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8)).toString
  }

  /** Ground truth of the first drops of a daily replay. */
  final case class DailyTruth(
      perDate: Map[String, (Long, Long, Long)],
      distinct: Long, corrupt: Long, goodLines: Long, lines: Long, rawBytes: Long,
      touchedDates: Seq[Set[String]]) {
    def dupsDropped: Long = goodLines - distinct
  }

  /** Daily raw drops `dir/day-NN/part-00000.jsonl`, one per day. Each drop
    * holds that day's events (a Zipf-skewed mix of 4000 sessions and 3000
    * documents), late events dated the previous day, duplicates within the
    * day, replays of the previous drop and a few corrupt lines, shuffled.
    * Returns the truth of the first n drops at index n - 1. */
  def dailyDrops(seed: Long, dir: Path, days: Int, eventsPerDay: Int): IndexedSeq[DailyTruth] = {
    val sh = shape(seed)
    val r = new SplittableRandom(mix64(seed))
    val zs = new Zipf(4000, sh.zipf)
    val zd = new Zipf(3000, sh.zipf)
    val start = LocalDate.of(2024, 1, 1)
    val tally = new Tally
    var serial = 0L
    var prev: IndexedSeq[String] = IndexedSeq.empty
    var (nCorrupt, nGood, nLines, nBytes) = (0L, 0L, 0L, 0L)
    val touched = mutable.ArrayBuffer.empty[Set[String]]
    (0 until days).map { d =>
      val good = mutable.ArrayBuffer.empty[String]
      val dates = mutable.Set.empty[String]
      for (_ <- 0 until eventsPerDay) {
        val late = d > 0 && r.nextDouble() < sh.lateShare
        val day = start.plusDays((if (late) d - 1 else d).toLong)
        val ts = day.atStartOfDay().plusSeconds(r.nextInt(86400).toLong)
        serial += 1
        val e = Event(f"${mix64(seed * 1000003L + serial)}%016x",
          s"S${zs.draw(r)}", zd.draw(r), ts)
        tally.add(e.date, e)
        dates += e.date
        good += e.json
      }
      val fresh = good.toIndexedSeq
      for (_ <- 0 until (eventsPerDay * sh.dupShare).toInt)
        good += fresh(r.nextInt(fresh.size))
      if (prev.nonEmpty) for (_ <- 0 until (eventsPerDay * sh.replayShare).toInt)
        good += prev(r.nextInt(prev.size))
      val nBad = math.max(1, (eventsPerDay * sh.corruptShare).toInt)
      val lines = good ++ (0 until nBad).map { _ =>
        corrupt(Event("x", "S0", r.nextInt(3000), start.atStartOfDay()), r)
      }
      val shuffled = shuffle(lines.toIndexedSeq, r)
      nBytes += Files.size(Paths.get(
        write(dir.resolve(f"day-$d%02d").resolve("part-00000.jsonl"), shuffled)))
      nCorrupt += nBad
      nGood += good.size
      nLines += shuffled.size
      touched += dates.toSet
      prev = fresh
      DailyTruth(tally.counts, tally.events.values.map(_.size.toLong).sum,
        nCorrupt, nGood, nLines, nBytes, touched.toSeq)
    }
  }

  private def shuffle[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** One landed stream file: the lines of one simulated minute plus
    * duplicates of the last few minutes (inside the dedup watermark). */
  final case class StreamFile(minute: LocalDateTime, lines: IndexedSeq[String])

  /** Ground truth per simulated minute: (distinct events, sessions, docs). */
  final case class StreamTruth(files: IndexedSeq[StreamFile],
      perMinute: Map[String, (Long, Long, Long)]) {
    def lines: Long = files.map(_.lines.size.toLong).sum
  }

  /** `n` stream files, file i holding simulated minute i, over 1500
    * sessions and 2000 documents. Every distinct
    * event of a minute is in its own file, so each minute reaches the
    * curated layer in one micro-batch; duplicates of the previous three minutes and
    * a corrupt line ride along and must be dropped by the stream. */
  def streamFiles(seed: Long, n: Int, eventsPerMinute: Int): StreamTruth = {
    val sh = shape(seed)
    val r = new SplittableRandom(mix64(seed ^ 0x57AEL))
    val zs = new Zipf(1500, sh.zipf)
    val zd = new Zipf(2000, sh.zipf)
    val t0 = LocalDate.of(2024, 3, 1).atStartOfDay()
    val tally = new Tally
    val recent = mutable.Queue.empty[IndexedSeq[String]]
    var serial = 0L
    val files = (0 until n).map { m =>
      val minute = t0.plusMinutes(m.toLong)
      val k = eventsPerMinute / 2 + r.nextInt(eventsPerMinute + 1)
      val fresh = (0 until k).map { _ =>
        serial += 1
        val e = Event(f"${mix64(seed * 7919L + serial)}%016x",
          s"S${zs.draw(r)}", zd.draw(r), minute.plusSeconds(r.nextInt(60).toLong))
        tally.add(e.minute.format(tsFmt), e)
        e.json
      }
      val dups = (0 until (k * sh.dupShare).toInt + 1).map(_ => fresh(r.nextInt(k))) ++
        recent.toSeq.flatMap(p => (0 until 2).map(_ => p(r.nextInt(p.size))))
      val bad = corrupt(Event("x", "S0", 0, minute), r)
      recent.enqueue(fresh)
      if (recent.size > 3) recent.dequeue()
      StreamFile(minute, shuffle((fresh ++ dups :+ bad).toIndexedSeq, r))
    }
    StreamTruth(files, tally.counts)
  }

  private var lastLanded = 0L

  /** Land a stream file: write it under `staging`, stamp it with a
    * modification time later than every file landed before (the file
    * source takes files in that order, so a minute's file is never read
    * after a later file holding its duplicates), then rename it into the
    * watched directory so the source never sees a partial file. */
  def land(f: StreamFile, i: Int, staging: Path, watched: Path): Unit = synchronized {
    val tmp = Paths.get(write(staging.resolve(f"min-$i%05d.jsonl"), f.lines))
    lastLanded = math.max(System.currentTimeMillis(), lastLanded + 1)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(lastLanded))
    Files.move(tmp, watched.resolve(f"min-$i%05d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private val vocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "de", "fr", "fr", "es")

  /** Rows of the `documents` table (doc_id, text, lang, source, n_chars):
    * word-salad texts over a 30-word vocabulary, with exact copies and
    * near-duplicates (an earlier text plus one word) of earlier documents,
    * so every dedup stage has work. Ids are dense and increasing. */
  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val r = new SplittableRandom(mix64(seed ^ 0xD0C5L))
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val u = r.nextDouble()
      val text =
        if (i > 10 && u < 0.02) texts(r.nextInt(texts.size))
        else if (i > 10 && u < 0.07) texts(r.nextInt(texts.size)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
      texts += text
      (i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }
}
