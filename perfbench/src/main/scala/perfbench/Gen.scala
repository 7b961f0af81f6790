package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One generated input table: name, schema and rows, held on the driver
  * so the benchmark knows every expected output by construction. */
final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

/** Seeded input generators. Everything here is plain Scala over a
  * `SplittableRandom` per table, so the same seed gives the same tables
  * in any JVM, and no generator needs a Spark session. */
object Gen {

  private def rng(seed: Long, stream: Int) =
    new SplittableRandom(seed * 1000003L + stream)

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  private val L = LongType
  private val I = IntegerType
  private val S = StringType
  private val D = DoubleType

  /** Pronounceable pseudo-words, fixed across seeds: the seed picks which
    * words a name or document uses, not the vocabulary itself. */
  val vocabulary: IndexedSeq[String] = {
    val cons = "bdfgklmnprstvz"
    val vows = "aeiou"
    val syl = for (c <- cons; v <- vows) yield s"$c$v"
    (for (a <- syl; b <- syl; c <- Seq("", "n", "r", "s")) yield a + b + c)
      .take(12000)
  }

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))

  // ---------------------------------------------------------------- dictionary

  /** A generated OpenMRS concept dictionary.
    *
    * @param live       live (non-retired) concepts — the rows of a full export
    * @param treeRoot   fully specified name of the planted set tree's root
    * @param treeSize   concepts reachable from the root, root included
    * @param treeDepth  links in the planted tree's longest member chain
    */
  final case class Dictionary(tables: Seq[Table], live: Int,
      treeRoot: Option[String], treeSize: Int, treeDepth: Int)

  /** `n` concepts shaped like `graft.exports.ScaledOmrs.tables` (same
    * tables, columns and types), drawn from `seed` instead of id moduli.
    * Sets nest at most two deep: level-1 sets hold leaves, level-2 sets
    * hold level-1 sets and leaves; coded questions answer with leaves.
    * Retired concepts appear as referents now and then (the export drops
    * them). With `treeDepth > 0` a disjoint tree of live sets nested
    * exactly `treeDepth` deep is planted on top, rooted at
    * [[Dictionary.treeRoot]]. */
  def dictionary(seed: Long, n: Int, treeDepth: Int = 0): Dictionary = {
    val r = rng(seed, 1)
    // ---- planted tree: the root, then levels 1 until treeDepth of 2–3
    // sets each; each set of level l-1 holds 1–2 sets of level l plus 1–2
    // private leaves, every level-l set has at least one parent, and the
    // deepest sets hold 2–3 leaves — the longest member chain from the
    // root has exactly treeDepth links
    val treeIds = ArrayBuffer.empty[Long]
    val setMembers = ArrayBuffer.empty[(Long, Long)]      // (set, member) in order
    val isSet = new Array[Boolean](n + 1)
    val retired = new Array[Boolean](n + 1)
    var nextTree = n.toLong
    def takeTreeId(): Long = { val id = nextTree; nextTree -= 1; treeIds += id; id }
    val treeRootId = if (treeDepth > 0) {
      val root = takeTreeId()
      var prev = IndexedSeq(root)
      for (_ <- 1 until treeDepth) {
        val level = IndexedSeq.fill(2 + r.nextInt(2))(takeTreeId())
        prev.foreach(p => isSet(p.toInt) = true)
        // each level-l set gets a parent, then parents may take a second
        val parentOf = level.indices.map(i => prev(i % prev.length))
        val extra = prev.map(p => (p, level(r.nextInt(level.length))))
        val links = (parentOf.zip(level) ++ extra).distinct
        prev.foreach { p =>
          links.filter(_._1 == p).foreach { case (_, c) => setMembers += ((p, c)) }
          for (_ <- 1 to 1 + r.nextInt(2)) setMembers += ((p, takeTreeId()))
        }
        prev = level
      }
      prev.foreach { p =>
        isSet(p.toInt) = true
        for (_ <- 1 to 2 + r.nextInt(2)) setMembers += ((p, takeTreeId()))
      }
      Some(root)
    } else None
    val treeSet = treeIds.toSet
    val base = (1L to nextTree).toIndexedSeq    // ids outside the tree

    // ---- base dictionary: levels, retirement, datatypes
    base.foreach(id => retired(id.toInt) = r.nextDouble() < 0.08)
    val liveBase = base.filterNot(id => retired(id.toInt))
    val level = new Array[Int](n + 1)
    liveBase.foreach { id =>
      val u = r.nextDouble()
      level(id.toInt) = if (u < 0.03) 2 else if (u < 0.13) 1 else 0
      if (level(id.toInt) > 0) isSet(id.toInt) = true
    }
    val leaves = liveBase.filter(id => level(id.toInt) == 0)
    val level1 = liveBase.filter(id => level(id.toInt) == 1)
    val retiredIds = base.filter(id => retired(id.toInt))
    // datatypes: 20 N/A, 21 Numeric, 22 Coded, 23 Complex
    val datatype = new Array[Long](n + 1)
    (1 to n).foreach { i =>
      datatype(i) = if (isSet(i)) 20L else {
        val u = r.nextDouble()
        if (treeSet(i.toLong)) 20L
        else if (u < 0.10) 21L else if (u < 0.22) 22L else if (u < 0.24) 23L else 20L
      }
    }
    val answerable = leaves.filter(id => datatype(id.toInt) != 22L)
    def referent(pool: IndexedSeq[Long]): Long =
      if (retiredIds.nonEmpty && r.nextDouble() < 0.03) pick(r, retiredIds)
      else pick(r, pool)
    liveBase.foreach { id =>
      level(id.toInt) match {
        case 1 =>
          (1 to 2 + r.nextInt(4)).map(_ => referent(leaves)).distinct
            .foreach(m => setMembers += ((id, m)))
        case 2 =>
          val subs = (1 to 1 + r.nextInt(3)).map(_ => pick(r, level1))
          val ls = (0 until r.nextInt(3)).map(_ => referent(leaves))
          (subs ++ ls).distinct.foreach(m => setMembers += ((id, m)))
        case _ =>
      }
    }
    val answers = ArrayBuffer.empty[(Long, Long)]
    leaves.filter(id => datatype(id.toInt) == 22L).foreach { id =>
      (1 to 2 + r.nextInt(3)).map(_ => referent(answerable)).distinct
        .filter(_ != id).foreach(a => answers += ((id, a)))
    }

    // ---- names, descriptions, mappings, numerics, complex
    val words = IndexedSeq.tabulate(n + 1)(_ => pick(r, vocabulary))
    def fsn(id: Long): String =
      if (treeRootId.contains(id)) "Deep set root"
      else s"${words(id.toInt).capitalize} concept $id"
    val conceptRows = (1 to n).map { i =>
      val cls = if (isSet(i)) 12L else 10L + r.nextInt(2)
      Row(i.toLong, f"uuid-$seed%x-$i", cls, datatype(i),
        if (retired(i)) 1 else 0, if (isSet(i)) 1 else 0)
    }
    val nameRows = ArrayBuffer.empty[Row]
    val descRows = ArrayBuffer.empty[Row]
    val termRows = ArrayBuffer.empty[Row]
    val mapRows = ArrayBuffer.empty[Row]
    val numericRows = ArrayBuffer.empty[Row]
    val complexRows = ArrayBuffer.empty[Row]
    var termId = 0L
    def term(code: String, source: Long, ret: Int, mapType: Long, cid: Long): Unit = {
      termId += 1
      termRows += Row(termId, code, source, ret)
      mapRows += Row(cid, mapType, termId)
    }
    (1 to n).foreach { i =>
      val id = i.toLong
      nameRows += Row(id, fsn(id), "en", "FULLY_SPECIFIED", 0)
      if (r.nextDouble() < 0.33)
        nameRows += Row(id, s"Concepto ${words(i)} $id", "es", "FULLY_SPECIFIED", 0)
      if (r.nextDouble() < 0.2)
        nameRows += Row(id, s"${words(i).take(4).toUpperCase}$id", "en", "SHORT", 0)
      if (r.nextDouble() < 0.09)
        nameRows += Row(id, s"Old ${words(i)} $id", "en", "FULLY_SPECIFIED", 1)
      if (r.nextDouble() < 0.5) {
        val nl = if (r.nextDouble() < 0.03) "\nsecond line" else ""
        descRows += Row(id, s"About ${words(i)} $id$nl", "en")
      }
      if (r.nextDouble() < 0.6)
        term((100000 + r.nextInt(900000)).toString, 40L,
          if (r.nextDouble() < 0.07) 1 else 0, 30L, id)
      val u = r.nextDouble()
      if (u < 0.2) term(id.toString, 41L, 0, 30L, id)
      else if (u < 0.3) term(s"NAME ${words(i)} $id", 41L, 0, 30L, id)
      if (r.nextDouble() < 0.05)
        term(s"${100 + r.nextInt(900)}.${r.nextInt(10)}", 42L, 0, 31L, id)
      datatype(i) match {
        case 21L =>
          val hi = 100.0 + r.nextInt(300)
          numericRows += Row(id, hi + 100, null, hi, 0.0, null, 1.0,
            pick(r, IndexedSeq("mg", "mmHg", "kg", "%")), r.nextInt(3), r.nextInt(2))
        case 23L => complexRows += Row(id, "ImageHandler")
        case _ =>
      }
    }
    val setRows = setMembers.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (s, ms) => ms.distinct.zipWithIndex.map { case ((_, m), k) =>
        Row(s, m, (k + 1).toDouble) }
    }
    val answerRows = answers.zipWithIndex.map { case ((c, a), k) =>
      Row(c, a, (k % 5 + 1).toDouble) }

    val tables = Seq(
      Table("concept", schema("concept_id" -> L, "uuid" -> S, "class_id" -> L,
        "datatype_id" -> L, "retired" -> I, "is_set" -> I), conceptRows),
      Table("concept_class", schema("concept_class_id" -> L, "name" -> S),
        IndexedSeq(Row(10L, "Misc"), Row(11L, "Question"), Row(12L, "ConvSet"))),
      Table("concept_datatype", schema("concept_datatype_id" -> L, "name" -> S),
        IndexedSeq(Row(20L, "N/A"), Row(21L, "Numeric"), Row(22L, "Coded"),
          Row(23L, "Complex"))),
      Table("concept_name", schema("concept_id" -> L, "name" -> S, "locale" -> S,
        "concept_name_type" -> S, "voided" -> I), nameRows.toIndexedSeq),
      Table("concept_description", schema("concept_id" -> L, "description" -> S,
        "locale" -> S), descRows.toIndexedSeq),
      Table("concept_map_type", schema("concept_map_type_id" -> L, "name" -> S),
        IndexedSeq(Row(30L, "SAME-AS"), Row(31L, "NARROWER-THAN"))),
      Table("concept_reference_source", schema("concept_source_id" -> L, "name" -> S),
        IndexedSeq(Row(40L, "CIEL"), Row(41L, "PIH"), Row(42L, "ICD-10-WHO"))),
      Table("concept_reference_term", schema("concept_reference_term_id" -> L,
        "code" -> S, "concept_source_id" -> L, "retired" -> I), termRows.toIndexedSeq),
      Table("concept_reference_map", schema("concept_id" -> L,
        "concept_map_type_id" -> L, "concept_reference_term_id" -> L),
        mapRows.toIndexedSeq),
      Table("concept_numeric", schema("concept_id" -> L, "hi_absolute" -> D,
        "hi_critical" -> D, "hi_normal" -> D, "low_absolute" -> D,
        "low_critical" -> D, "low_normal" -> D, "units" -> S,
        "display_precision" -> I, "allow_decimal" -> I), numericRows.toIndexedSeq),
      Table("concept_complex", schema("concept_id" -> L, "handler" -> S),
        complexRows.toIndexedSeq),
      Table("concept_set", schema("concept_set" -> L, "concept_id" -> L,
        "sort_weight" -> D), setRows.toIndexedSeq),
      Table("concept_answer", schema("concept_id" -> L, "answer_concept" -> L,
        "sort_weight" -> D), answerRows.toIndexedSeq))
    Dictionary(tables, live = (1 to n).count(i => !retired(i)),
      treeRoot = treeRootId.map(fsn), treeSize = treeIds.size, treeDepth = treeDepth)
  }

  // ----------------------------------------------------------------- locations

  /** Generated locations with the CSV header and row count the export
    * must produce. */
  final case class Locations(tables: Seq[Table], header: Seq[String], rows: Int)

  private val tagNames = IndexedSeq("Facility", "Login Location",
    "Admission Location", "Visit Location", "Transfer Location",
    "Medical Record Location", "Dispensing Location", "Main Pharmacy")
  private val attributeNames = IndexedSeq("Code", "Facility Type", "Region",
    "Catchment", "Phone")

  /** `n` locations forming a forest (each parent has a smaller id), with
    * 0–3 tags and 0–3 attributes each; attribute values may contain ':'. */
  def locations(seed: Long, n: Int): Locations = {
    val r = rng(seed, 2)
    val locRows = (1 to n).map { i =>
      val parent = if (i == 1 || r.nextDouble() < 0.05) null
        else java.lang.Long.valueOf(1L + r.nextInt(i - 1))
      val desc = if (r.nextDouble() < 0.6) s"Ward of ${pick(r, vocabulary)} $i" else null
      Row(i.toLong, f"loc-$seed%x-$i", s"${pick(r, vocabulary).capitalize} site $i",
        desc, parent, if (r.nextDouble() < 0.05) 1 else 0)
    }
    val tagMap = (1 to n).flatMap { i =>
      (0 until r.nextInt(4)).map(_ => r.nextInt(tagNames.length)).distinct
        .map(t => Row(i.toLong, 60L + t))
    }
    val attrs = (1 to n).flatMap { i =>
      (0 until r.nextInt(4)).map(_ => r.nextInt(attributeNames.length)).distinct
        .map(a => Row(i.toLong, 70L + a, s"${pick(r, vocabulary)}:${r.nextInt(100)}"))
    }
    val usedTags = tagMap.map(_.getLong(1)).distinct.map(t => "Tag|" + tagNames((t - 60).toInt))
    val usedAttrs = attrs.map(_.getLong(1)).distinct
      .map(a => "Attribute|" + attributeNames((a - 70).toInt))
    val header = Seq("UUID", "Void/Retire", "Name", "Description", "Parent") ++
      usedAttrs.sorted ++ usedTags.sorted
    Locations(Seq(
      Table("location", schema("location_id" -> L, "uuid" -> S, "name" -> S,
        "description" -> S, "parent_location" -> L, "retired" -> I), locRows),
      Table("location_tag", schema("location_tag_id" -> L, "name" -> S),
        tagNames.indices.map(t => Row(60L + t, tagNames(t)))),
      Table("location_tag_map", schema("location_id" -> L, "location_tag_id" -> L), tagMap),
      Table("location_attribute_type", schema("location_attribute_type_id" -> L,
        "name" -> S), attributeNames.indices.map(a => Row(70L + a, attributeNames(a)))),
      Table("location_attribute", schema("location_id" -> L,
        "attribute_type_id" -> L, "value_reference" -> S), attrs)),
      header, n)
  }

  /** The order-types export's fixed header. */
  val orderTypeHeader: Seq[String] =
    Seq("Uuid", "Void/Retire", "Name", "Description", "Java class name", "Parent")

  /** `n` order types; parents point at smaller ids. */
  def orderTypes(seed: Long, n: Int): Table = {
    val r = rng(seed, 3)
    Table("order_type", schema("order_type_id" -> L, "uuid" -> S, "name" -> S,
      "description" -> S, "java_class_name" -> S, "parent" -> L, "retired" -> I),
      (1 to n).map { i =>
        val parent = if (i == 1 || r.nextDouble() < 0.5) null
          else java.lang.Long.valueOf(1L + r.nextInt(i - 1))
        Row(i.toLong, f"ot-$seed%x-$i", s"${pick(r, vocabulary).capitalize} order $i",
          if (r.nextDouble() < 0.5) s"Orders for ${pick(r, vocabulary)}" else null,
          pick(r, IndexedSeq("org.openmrs.DrugOrder", "org.openmrs.TestOrder",
            "org.openmrs.ReferralOrder")), parent, if (r.nextDouble() < 0.1) 1 else 0)
      })
  }

  // -------------------------------------------------------------------- corpus

  /** A generated corpus. `planted` holds (original, copy) id pairs; a copy
    * is exact (0 word substitutions) or near (1–3 substitutions, which
    * keeps the word-3-shingle Jaccard above 0.79 for 80-word documents). */
  final case class Corpus(docs: IndexedSeq[(Long, String)],
      planted: IndexedSeq[(Long, Long, Int)]) {
    lazy val text: Map[Long, String] = docs.toMap
  }

  val corpusSchema: StructType = schema("id" -> L, "shard" -> I, "text" -> S)

  def corpusTable(c: Corpus): Table =
    Table("corpus", corpusSchema, c.docs.map { case (id, t) => Row(id, (id % 8).toInt, t) })

  /** `n` documents of `words` words; `dupFrac` of them are planted copies
    * of a random original (a quarter exact, the rest near). Ids are a
    * seeded permutation of 1..n, so copies are not adjacent to their
    * originals. */
  def corpus(seed: Long, n: Int, words: Int = 80, dupFrac: Double = 0.2): Corpus = {
    val r = rng(seed, 4)
    val nDup = math.round(n * dupFrac).toInt
    val nOrig = n - nDup
    val ids = {
      val a = (1L to n.toLong).toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val origs = (0 until nOrig).map(_ => Array.fill(words)(pick(r, vocabulary)))
    val docs = ArrayBuffer.empty[(Long, String)]
    origs.indices.foreach(k => docs += ((ids(k), origs(k).mkString(" "))))
    val planted = (0 until nDup).map { k =>
      val o = r.nextInt(nOrig)
      val copy = origs(o).clone()
      val subs = if (r.nextDouble() < 0.25) 0 else 1 + r.nextInt(3)
      (0 until subs).foreach { _ =>
        val pos = r.nextInt(words)
        var w = pick(r, vocabulary)
        while (w == copy(pos)) w = pick(r, vocabulary)
        copy(pos) = w
      }
      val id = ids(nOrig + k)
      docs += ((id, copy.mkString(" ")))
      (ids(o), id, subs)
    }
    Corpus(docs.sortBy(_._1).toIndexedSeq, planted)
  }

  // --------------------------------------------------------------- fingerprint

  /** md5 over table names, schemas and rows: equal iff the generated
    * inputs are equal. */
  def md5(tables: Seq[Table]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    tables.foreach { t =>
      md.update(t.name.getBytes("UTF-8"))
      md.update(t.schema.json.getBytes("UTF-8"))
      t.rows.foreach(row => md.update(row.mkString("\u0001", "\u0002", "\n").getBytes("UTF-8")))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
