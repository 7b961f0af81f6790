package perfbench

import scala.collection.mutable

/** Output checks. Each returns the list of problems found (empty = pass);
  * a job with any problem counts as failed. All checks are recomputed
  * here from the generated inputs, independently of the program. */
object Checks {

  /** Minimal RFC-4180 reader for the CSVs Spark writes: `"`-quoted
    * fields, `""` or `\"` inside quotes, newlines allowed inside quotes. */
  def parseCsv(text: String): IndexedSeq[IndexedSeq[String]] = {
    val rows = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    var row = mutable.ArrayBuffer.empty[String]
    val cell = new StringBuilder
    var quoted = false
    var i = 0
    def endCell(): Unit = { row += cell.toString; cell.clear() }
    def endRow(): Unit = { endCell(); rows += row.toIndexedSeq; row = mutable.ArrayBuffer.empty }
    while (i < text.length) {
      val c = text.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < text.length && text.charAt(i + 1) == '"') { cell += '"'; i += 1 }
        else if (c == '"' && i + 1 < text.length && text.charAt(i + 1) == '"') { cell += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cell += c
      } else c match {
        case '"' => quoted = true
        case ',' => endCell()
        case '\n' => endRow()
        case '\r' =>
        case _ => cell += c
      }
      i += 1
    }
    if (cell.nonEmpty || row.nonEmpty) endRow()
    rows.toIndexedSeq
  }

  /** Concepts CSV: `expectedRows` data rows, keys unique, and every name
    * listed in `Members` or `Answers` is the key of an EARLIER row (the
    * Initializer loads top-down, so a referent must precede its
    * referrer). */
  def conceptsCsv(csv: String, expectedRows: Int,
      key: String = "Fully specified name:en"): Seq[String] = {
    val rows = parseCsv(csv)
    if (rows.isEmpty) return Seq("concepts CSV is empty")
    val header = rows.head
    val data = rows.tail
    val problems = mutable.ArrayBuffer.empty[String]
    if (data.length != expectedRows)
      problems += s"concepts CSV has ${data.length} data rows, expected $expectedRows"
    val k = header.indexOf(key)
    if (k < 0) return problems.toSeq :+ s"concepts CSV has no '$key' column"
    val refCols = Seq("Members", "Answers").map(header.indexOf).filter(_ >= 0)
    val seen = mutable.HashSet.empty[String]
    var bad = 0
    data.zipWithIndex.foreach { case (row, i) =>
      if (row.length != header.length)
        problems += s"concepts CSV row ${i + 2} has ${row.length} cells, header ${header.length}"
      else {
        for (c <- refCols; ref <- row(c).split(";") if ref.nonEmpty && !seen(ref)) {
          if (bad < 5) problems += s"row ${i + 2} (${row(k)}) references '$ref' before it appears"
          bad += 1
        }
        if (!seen.add(row(k))) problems += s"duplicate key '${row(k)}' at row ${i + 2}"
      }
    }
    if (bad > 5) problems += s"... $bad referent-order violations in total"
    problems.toSeq
  }

  /** A CSV with exactly `header` and `expectedRows` data rows. */
  def headerAndRows(what: String, csv: String, header: Seq[String],
      expectedRows: Int): Seq[String] = {
    val rows = parseCsv(csv)
    if (rows.isEmpty) return Seq(s"$what CSV is empty")
    Seq(
      Option.when(rows.head != header)(
        s"$what header ${rows.head.mkString("[", ",", "]")} != ${header.mkString("[", ",", "]")}"),
      Option.when(rows.length - 1 != expectedRows)(
        s"$what CSV has ${rows.length - 1} data rows, expected $expectedRows")).flatten
  }

  // ------------------------------------------------------------------ corpus

  /** Word 3-shingle set, the same definition as `Dedup.shingles`:
    * whitespace tokens, n consecutive tokens joined by one space. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSet
    else Set(toks.mkString(" "))
  }

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    val inter = sa.count(sb)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Verified pairs `(a, b, jaccard)`: each sampled pair's Jaccard,
    * recomputed from the texts, is at least `threshold` and matches the
    * reported value to the 4 decimals the program rounds to. */
  def verifiedPairs(pairs: Seq[(Long, Long, Double)], text: Long => String,
      threshold: Double, sample: Int, seed: Long): Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    val chosen = if (pairs.length <= sample) pairs
      else Seq.fill(sample)(pairs(r.nextInt(pairs.length)))
    chosen.flatMap { case (a, b, reported) =>
      val j = jaccard(text(a), text(b))
      if (j < threshold) Some(f"pair ($a,$b) has Jaccard $j%.4f < $threshold")
      else if (math.abs(j - reported) > 1e-4) Some(f"pair ($a,$b) reported $reported, recomputed $j%.4f")
      else None
    }.take(5)
  }

  /** Exact-duplicate representatives: normalized text → minimum id, the
    * contract of `Dedup.exact` (lower-cased, trimmed, whitespace runs
    * collapsed). Returns id → representative id. */
  def exactReps(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val norm = docs.map { case (id, t) => id -> t.trim.toLowerCase.replaceAll("\\s+", " ") }
    val rep = norm.groupBy(_._2).values.flatMap { g =>
      val m = g.map(_._1).min; g.map(_._1 -> m) }
    rep.toMap
  }

  /** Share of planted near-duplicate pairs (after mapping both sides to
    * their exact representatives) that were verified. */
  def recall(planted: Seq[(Long, Long, Int)], reps: Map[Long, Long],
      verified: Seq[(Long, Long, Double)]): Double = {
    val found = verified.map(p => (p._1, p._2)).toSet
    val want = planted.map { case (o, d, _) =>
      val (a, b) = (reps(o), reps(d)); (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    if (want.isEmpty) 1.0 else want.count(found).toDouble / want.length
  }

  /** Ids that survive near-dup removal: `survivors` minus every node
    * whose connected component (over the verified pairs) has a smaller
    * minimum id — union-find, independent of the program's graph code. */
  def keptIds(survivors: Seq[Long], verified: Seq[(Long, Long, Double)]): Set[Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    verified.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    survivors.filter(id => find(id) == id).toSet
  }
}
