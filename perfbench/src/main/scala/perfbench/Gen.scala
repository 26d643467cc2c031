package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed gives the same inputs.
  *
  * Raw security events follow the reference baseline's recipe, in the raw
  * 7-column schema (event_id, timestamp, user_id, event_type, status,
  * severity, source_ip): 95 % canonical `yyyy-MM-dd HH:mm:ss` timestamps and
  * 5 % other formats that the pipeline drops, blank user ids, injected exact
  * and key duplicates, and spelling variants of every categorical value.
  * Blank fields are `null`.
  */
object Gen {
  val Columns: Seq[String] =
    Seq("event_id", "timestamp", "user_id", "event_type", "status", "severity", "source_ip")

  /** One raw row; `eventId` is null when blank. */
  final case class Raw(eventId: java.lang.Long, ts: String, user: String,
      eventType: String, status: String, severity: String, ip: String,
      malformed: Boolean) {
    def fields: Seq[String] =
      Seq(if (eventId == null) null else eventId.toString, ts, user, eventType,
        status, severity, ip)
  }

  /** The generator's own counts; with them each stage's rows out reconcile
    * exactly: rows in - drops = rows out.
    */
  final case class Counts(rows: Long, nullEventId: Long, exactDups: Long,
      keyDups: Long, blankUsers: Long, malformedTs: Long,
      dedupRemoved: Long, malformedAfterDedup: Long) {
    def fillOut: Long = rows - nullEventId
    def dedupOut: Long = fillOut - dedupRemoved
    def timestampsOut: Long = dedupOut - malformedAfterDedup
    def toMap: Map[String, Any] = Map(
      "rows" -> rows, "null_event_id" -> nullEventId, "exact_dups" -> exactDups,
      "key_dups" -> keyDups, "blank_users" -> blankUsers,
      "malformed_ts" -> malformedTs, "dedup_removed" -> dedupRemoved,
      "malformed_after_dedup" -> malformedAfterDedup,
      "expected_rows_out" -> timestampsOut)
  }

  private val eventTypes = Seq("login", "logout", "file_access", "file_delete",
    "password_reset", "privilege_escalation", "network_scan", "config_change")
  private val statusVariants = Seq("Success", "success", "OK", "ok", "Passed",
    "allowed", "FAILED", "failed", "denied ", "Error", "blocked",
    "unauthorized", "Unknown")
  private val severityVariants = Seq("info", "Informational", "LOW", "notice",
    "Warning", "medium", "med", "High", "severe", "CRIT", "critical",
    "emergency", "urgent")
  private val BaseEpoch = 1735689600L // 2025-01-01 00:00:00 UTC
  private val fmtCanon = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  private val otherFormats = Seq("MM/dd/yyyy HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy/MM/dd HH:mm:ss", "MMM dd yyyy HH:mm:ss", "dd-MM-yyyy HH:mm:ss")
    .map(p => java.time.format.DateTimeFormatter.ofPattern(p, java.util.Locale.US)
      .withZone(java.time.ZoneOffset.UTC))

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  def userName(r: SplittableRandom, u: Int): String = r.nextInt(10) match {
    case 0 => f"User-$u%05d"
    case 1 => f"USER $u%05d"
    case _ => f"user_$u%05d"
  }

  def eventTypeName(r: SplittableRandom): String = {
    val e = pick(r, eventTypes)
    r.nextInt(6) match {
      case 0 => e.toUpperCase
      case 1 => " " + e.replace('_', ' ') + " "
      case 2 => e.replace('_', '-')
      case 3 => e.split('_').map(_.capitalize).mkString(" ")
      case _ => e
    }
  }

  def ipAddress(r: SplittableRandom): String = r.nextInt(1000) match {
    case x if x < 5 => null
    case x if x < 7 => "invalid_ip"
    case x if x < 17 => s" 10.0.${r.nextInt(256)}.${r.nextInt(256)} "
    case _ => s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
  }

  /** Render an epoch second: canonical 95 % of the time. */
  def timestamp(r: SplittableRandom, epoch: Long): (String, Boolean) = {
    val inst = java.time.Instant.ofEpochSecond(epoch)
    if (r.nextInt(100) < 95) (fmtCanon.format(inst), false)
    else (pick(r, otherFormats).format(inst), true)
  }

  /** Batch raw events: `n` rows from `n / 4` users with short histories,
    * with per-user clocks so users have sessions; about 1 % exact
    * duplicates, 1 % key duplicates, 0.1 % blank event ids and 1 % blank
    * users.
    */
  def rawEvents(seed: Long, n: Int): (IndexedSeq[Raw], Counts) = {
    val (exactDup, keyDup, blankId, blankUser) = (0.01, 0.01, 0.001, 0.01)
    val r = new SplittableRandom(seed)
    val clock = Array.fill(n / 4)(BaseEpoch + r.nextLong(30L * 86400))
    val rows = new mutable.ArrayBuffer[Raw](n)
    var nextId = 100000L
    var exactDups, keyDups = 0L
    while (rows.size < n) {
      val roll = r.nextDouble()
      if (rows.nonEmpty && roll < exactDup) {
        rows += rows(rows.size - 1 - r.nextInt(math.min(rows.size, 500)))
        exactDups += 1
      } else {
        val id: java.lang.Long =
          if (rows.nonEmpty && roll < exactDup + keyDup) {
            val prev = rows(rows.size - 1 - r.nextInt(math.min(rows.size, 500))).eventId
            if (prev != null) keyDups += 1
            prev
          } else if (roll < exactDup + keyDup + blankId) null
          else { nextId += 1; nextId }
        val u = r.nextInt(clock.length)
        clock(u) += (if (r.nextInt(10) < 7) 1L + (-480.0 * math.log(1 - r.nextDouble())).toLong
          else 1860L + r.nextLong(2L * 86400))
        val (ts, bad) = timestamp(r, clock(u))
        val user = if (r.nextDouble() < blankUser) null else userName(r, u)
        val status = if (r.nextInt(100) < 2) null else pick(r, statusVariants)
        val sev = if (r.nextInt(100) < 2) null else pick(r, severityVariants)
        rows += Raw(id, ts, user, eventTypeName(r), status, sev, ipAddress(r), bad)
      }
    }
    (rows.toIndexedSeq, count(rows.toIndexedSeq, exactDups, keyDups))
  }

  private def count(rows: IndexedSeq[Raw], exactDups: Long, keyDups: Long): Counts = {
    val last = mutable.HashMap.empty[Long, Raw]
    var nullIds = 0L
    rows.foreach { x => if (x.eventId == null) nullIds += 1 else last(x.eventId) = x }
    Counts(rows = rows.size, nullEventId = nullIds, exactDups = exactDups,
      keyDups = keyDups, blankUsers = rows.count(_.user == null),
      malformedTs = rows.count(_.malformed),
      dedupRemoved = rows.size - nullIds - last.size,
      malformedAfterDedup = last.values.count(_.malformed))
  }

  private def csvField(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ' ' || c == ',')) "\"" + s + "\""
    else s

  def csvLine(x: Raw): String = x.fields.map(csvField).mkString(",")

  def writeCsv(path: java.nio.file.Path, rows: Iterable[Raw]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write(Columns.mkString(",")); w.write('\n')
      rows.foreach { x => w.write(csvLine(x)); w.write('\n') }
    } finally w.close()
  }

  // --- text corpus and embeddings for the operator suite -------------------

  private val vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "a", "the", "vector", "customer", "join", "index",
    "shard", "token", "model", "cache", "node", "graph", "edge", "page", "log")
  private val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** `n` documents; about 8 % near-duplicates (a few words edited) and 2 %
    * exact duplicates of earlier documents, so the dedup operators find
    * clusters.
    */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed ^ 0x5deece66dL)
    val out = new mutable.ArrayBuffer[Doc](n)
    for (i <- 0 until n) {
      val roll = r.nextInt(100)
      val words: Seq[String] =
        if (i > 0 && roll < 10) {
          val base = out(r.nextInt(i)).text.split(' ').toBuffer
          if (roll >= 2) (0 until 1 + r.nextInt(3)).foreach { _ =>
            base(r.nextInt(base.size)) = pick(r, vocab)
          }
          base.toSeq
        } else Seq.fill(8 + r.nextInt(83))(pick(r, vocab))
      out += Doc(i.toLong, words.mkString(" "), pick(r, langs), s"src${r.nextInt(20)}")
    }
    out.toIndexedSeq
  }

  /** `n` unit vectors in `dim` dimensions around 10 labelled centres. */
  def embeddings(seed: Long, n: Int, dim: Int = 64): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed ^ 0x2545f4914f6cdd1dL)
    def gauss(): Double = {
      // Box-Muller from the seeded stream
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centres = Array.fill(10, dim)(gauss())
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centres(label)(d) + 1.2 * gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
  }
}
