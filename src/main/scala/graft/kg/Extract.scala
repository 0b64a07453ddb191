package graft.kg

import scala.util.Try
import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Model._

/** S3 — deterministic rule-based mention detection + triple extraction.
  *
  * The reference repo contains no extractor of its own (its pipeline stages
  * downstream of ingest are design-only — `docs/diagrams/megamind.drawio`),
  * so the extraction target is this fixed rule grammar, implemented once as
  * pure Scala ([[Extract.extractTurn]]) and driven both by the distributed
  * pipeline (`mapPartitions`, regexes compiled once per partition — the
  * "batched" requirement) and by the in-memory test oracle. The emitted
  * triple shape is exactly the reference's proto model
  * (`subgraph/subgraph.proto:27-49`): Subject{type,tuid} / Predicate{name} /
  * Object oneof(subject|string|int64|float64).
  *
  * Cross-turn rule: a turn like "They ordered 3 items." attributes the fact
  * to the most recently named Person in the conversation — this is what makes
  * conversation reconstruction (stable turn ordering) semantically load-bearing
  * rather than just a sort.
  */
object Extract {

  /** Sentinel tuid for pronoun-subject triples awaiting resolution against
    * the last Person mention in conversation order. */
  val PronounTuid = "<<pronoun>>" // survives trim; never a real surface form

  // Rule grammar. Anchored, mutually exclusive on the fixture templates;
  // evaluated in order, all matching rules fire (a turn may hold >1 fact in
  // richer corpora). Surface forms are emitted RAW (trimmed only) — casing /
  // whitespace normalization is the Link stage's job, not the extractor's.
  private val rName = "^My name is (.+)\\.$".r
  private val rLives = "^(.+) lives in (.+)\\.$".r
  private val rTotal = "^Order (\\d+) has total (\\S+)\\.$".r
  private val rLookup = "^lookup returned (.+) for order (\\d+)$".r
  private val rAge = "^(.+) is (\\d+) years old\\.$".r
  private val rPronounItems = "^They ordered (\\d+) items\\.$".r
  private val rWorks = "^(.+) works at (.+)\\.$".r
  private val rTemp = "^(.+?) is (-?\\d+(?:\\.\\d+)?) degrees\\.$".r
  private val rToolVal = "^(\\S+) returned value (\\S+) for (.+)$".r

  private def t(conv: String, idx: Int, st: String, tu: String, p: String)(
      kind: String,
      ot: Option[String] = None, otu: Option[String] = None,
      os: Option[String] = None, oi: Option[Long] = None,
      od: Option[Double] = None): RawTriple =
    RawTriple(conv, idx, st, tu.trim, p, kind, ot, otu.map(_.trim), os, oi, od)

  /** Pure per-turn extraction. Returns (triples, personMention):
    * `personMention` is the surface form that a later pronoun turn resolves
    * to; pronoun triples carry [[PronounTuid]] until Reconstruct resolves
    * them with a window over conversation order.
    */
  def extractTurn(conv_id: String, turn_idx: Int, role: String, tool: String,
      text: String): (Seq[RawTriple], Option[String]) = {
    val out = Seq.newBuilder[RawTriple]
    var person: Option[String] = None
    val txt = if (text == null) "" else text

    // Cheap NECESSARY-condition guards in front of each anchored regex: a
    // guard is a literal the pattern requires (a `^`-anchored prefix or an
    // interior literal), so it can never change which rules fire — it only
    // skips the regex engine for the ~8 of 9 rules a turn cannot match.
    // Measured: the 9-attempts-per-turn extraction kernel is the hottest
    // per-row work of the pipeline's fused S2+S3 stage.
    if (txt.startsWith("My name is ")) txt match {
      case rName(n) =>
        person = Some(n.trim)
        out += t(conv_id, turn_idx, "Person", n, "name")(ObjKind.String, os = Some(n.trim))
      case _ => ()
    }
    if (txt.contains(" lives in ")) txt match {
      case rLives(n, place) =>
        person = Some(n.trim)
        out += t(conv_id, turn_idx, "Person", n, "lives_in")(
          ObjKind.Subject, ot = Some("Nation"), otu = Some(place))
      case _ => ()
    }
    if (txt.startsWith("Order ")) txt match {
      case rTotal(ord, amt) =>
        Try(amt.toDouble).toOption.foreach { d =>
          out += t(conv_id, turn_idx, "Order", ord, "total")(ObjKind.Float64, od = Some(d))
        }
      case _ => ()
    }
    if (role == "tool" && txt.startsWith("lookup returned ")) txt match {
      case rLookup(prio, ord) =>
        out += t(conv_id, turn_idx, "Order", ord, "priority")(ObjKind.String, os = Some(prio.trim))
      case _ => ()
    }
    if (txt.contains(" years old")) txt match {
      case rAge(n, age) =>
        Try(age.toLong).toOption.foreach { a =>
          person = Some(n.trim)
          out += t(conv_id, turn_idx, "Person", n, "age")(ObjKind.Int64, oi = Some(a))
        }
      case _ => ()
    }
    if (txt.startsWith("They ordered ")) txt match {
      case rPronounItems(cnt) =>
        Try(cnt.toLong).toOption.foreach { c =>
          out += t(conv_id, turn_idx, "Person", PronounTuid, "ordered_items")(
            ObjKind.Int64, oi = Some(c))
        }
      case _ => ()
    }
    if (txt.contains(" works at ")) txt match {
      case rWorks(n, org) if !n.endsWith(" lives") =>
        person = Some(n.trim)
        out += t(conv_id, turn_idx, "Person", n, "works_at")(
          ObjKind.Subject, ot = Some("Org"), otu = Some(org))
      case _ => ()
    }
    if (txt.contains(" degrees")) txt match {
      case rTemp(city, deg) if !txt.contains("years old") =>
        Try(deg.toDouble).toOption.foreach { d =>
          out += t(conv_id, turn_idx, "City", city, "temperature")(ObjKind.Float64, od = Some(d))
        }
      case _ => ()
    }
    if (role == "tool" && txt.contains(" returned value ")) txt match {
      case rToolVal(toolName, v, n) =>
        out += t(conv_id, turn_idx, "Person", n, s"tool_$toolName")(
          ObjKind.String, os = Some(v))
      case _ => ()
    }
    (out.result(), person)
  }

  /** Fused S2+S3: replay dedup + stable ordering + extraction + pronoun
    * resolution in ONE shuffle. Classic secondary-sort: repartition by a
    * `conv_id` hash, sort within partitions by the full deterministic key,
    * then a single streaming `mapPartitions` pass of [[extractSorted]].
    * Preferred over window functions here because the extractor
    * is a `mapPartitions` anyway — windows before/after it cannot share its
    * exchange (object-mapped stages erase partitioning info), so the fused
    * form saves a full extra shuffle AND keeps the conversation loop
    * byte-identical to the driver lane's ([[Pipeline.runOnDriver]]).
    *
    * Skew: a hot conversation serializes only its own rows (per-turn work is
    * O(1)); partitions hold many conversations, and AQE rebalances
    * post-shuffle partition sizes.
    */
  def extract(turns: Dataset[Turn], partitions: Option[Int] = None): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    val n = partitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    turns
      // a hash of conv_id that Incremental's bucket filter does not use:
      // that filter keeps rows with one pmod(hash(conv_id), nBuckets), and
      // repartitioning a bucket on the same Murmur3 hash would put all of it
      // in n / gcd(n, nBuckets) partitions (one, at 16 buckets on 4 cores)
      .repartition(n, xxhash64($"conv_id"))
      .sortWithinPartitions($"conv_id", $"turn_idx", $"ts", $"role", $"tool", $"text")
      .mapPartitions(extractSorted)
      .toDF()
  }

  /** The order [[extract]] sorts turns in before [[extractSorted]]: by
    * conv_id, turn_idx, ts, role, tool, text, ascending with nulls first,
    * strings by their UTF-8 bytes — Spark's order, so a driver-side sort
    * picks the same replay winners. */
  val sparkOrder: Ordering[Turn] = {
    def nullsFirst[T](o: Ordering[T]): Ordering[T] = (a, b) =>
      if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1 else o.compare(a, b)
    val s = nullsFirst[String](Canonicalize.utf8Compare)
    val ts = nullsFirst[java.sql.Timestamp](_ compareTo _)
    (a, b) => {
      var c = s.compare(a.conv_id, b.conv_id)
      if (c == 0) c = Integer.compare(a.turn_idx, b.turn_idx)
      if (c == 0) c = ts.compare(a.ts, b.ts)
      if (c == 0) c = s.compare(a.role, b.role)
      if (c == 0) c = s.compare(a.tool, b.tool)
      if (c == 0) c = s.compare(a.text, b.text)
      c
    }
  }

  /** The conversation loop over turns in [[sparkOrder]], with O(1) state
    * per conversation: the first row of each `turn_idx` wins (replay
    * dedup), and a pronoun triple takes the last Person named so far in its
    * conversation (dropped when there is none). Both ingest lanes run it:
    * [[extract]] per sorted partition, [[Pipeline.runOnDriver]] over a
    * sorted bucket. */
  def extractSorted(turns: Iterator[Turn]): Iterator[RawTriple] = {
    var curConv: String = null
    var lastPerson: Option[String] = None
    var prevIdx = Int.MinValue
    turns.flatMap { tu =>
      if (tu.conv_id != curConv) {
        curConv = tu.conv_id; lastPerson = None; prevIdx = Int.MinValue
      }
      if (tu.turn_idx == prevIdx) Iterator.empty // replay: first row won
      else {
        prevIdx = tu.turn_idx
        val (ts, person) = extractTurn(tu.conv_id, tu.turn_idx, tu.role, tu.tool, tu.text)
        if (person.isDefined) lastPerson = person
        ts.iterator.flatMap { t =>
          if (t.subj_tuid == PronounTuid) lastPerson.map(p => t.copy(subj_tuid = p))
          else Some(t)
        }
      }
    }
  }

  /** Window-function formulation of the same semantics (used by tests to
    * cross-check the fused path, and as the reference shape when extraction
    * is column-expressible). */
  def extractWindowed(turns: Dataset[Turn]): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._

    // (triples, personMention) per turn; keeps lineage (conv_id, turn_idx).
    val perTurn = turns.mapPartitions { it =>
      it.map { tu =>
        val (ts, person) = extractTurn(tu.conv_id, tu.turn_idx, tu.role, tu.tool, tu.text)
        (tu.conv_id, tu.turn_idx, ts, person)
      }
    }.toDF("conv_id", "turn_idx", "triples", "person_mention")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"conv_id")
      .orderBy($"turn_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val resolved = perTurn
      .withColumn("last_person", last($"person_mention", ignoreNulls = true).over(w))
      .select($"conv_id", $"turn_idx", $"last_person", explode($"triples").as("tr"))
      .select($"last_person", $"tr.*")

    // Substitute the pronoun sentinel; drop pronoun triples with no
    // antecedent (deterministic: same rule as the oracle).
    resolved
      .withColumn("subj_tuid",
        when($"subj_tuid" === lit(PronounTuid), $"last_person").otherwise($"subj_tuid"))
      .filter($"subj_tuid".isNotNull && length($"subj_tuid") > 0)
      .drop("last_person")
  }
}
