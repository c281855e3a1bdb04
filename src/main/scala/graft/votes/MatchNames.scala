package graft.votes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Entity resolution: link free-text voter names on roll calls to canonical
  * member records (reference: match_names.py:13-47 pass 1,
  * match_names.py:139-156 pass 2).
  *
  * Pass 1 is a blocked fuzzy join — equi-join on `lower(last)` within
  * (year, chamber) with the `is_same_name` kernel as a post-join predicate
  * and a uniqueness gate. The blocking key bounds the pairwise expansion,
  * so the join scales linearly in roster size; the plan must never degrade
  * to a cartesian product (SURVEY.md §4).
  *
  * Pass 2 is the reference's inherently iterative substring fixed point,
  * run on the driver over the (small) per-group residue of pass 1, exactly
  * matching the reference's scale assumptions (SURVEY.md §7 risk 3).
  *
  * [[run]] evaluates the pass-1 plan once: its rows are collected to the
  * driver, both residues anti-join against that local relation, and the
  * pass-2 hits are subtracted from the residues on the driver. Every frame
  * of the returned [[Result]] is a driver-local relation, so reading it —
  * in [[applyMatches]], [[stats]] or [[ambiguityReport]] — never re-runs
  * pass 1. `maxResidue` caps each driver-side collect: the pass-1 rows and
  * both residues.
  */
object MatchNames {

  /** probe parse used by get_match (match_names.py:14-18): bare token →
    * last-only probe; otherwise HumanName(title-cased).
    */
  private val parseProbe = udf { (name: String) =>
    val t = Names.pythonTitle(if (name == null) "" else name)
    val nm = if (!t.contains(' ')) Name(last = t) else Name.parse(t)
    (nm.first, nm.middle, nm.last, nm.suffix)
  }

  final case class Result(matches: DataFrame, missingNames: DataFrame,
                          unmatchedMembers: DataFrame)

  /** Hard cap on the rows [[run]] pulls to the driver: pass-1 matches and
    * each pass-1 residue.
    */
  val DefaultMaxResidue = 100000

  /** Pass 1 as a plan: (year, chamber, name, member_id, method = "fuzzy"),
    * one row per voter name with exactly one matching name tuple in its
    * block. Exposed so specs can inspect the join shape; [[run]] evaluates
    * it once.
    */
  private[votes] def pass1(voterNames: DataFrame, roster: DataFrame): DataFrame = {
    val probes = voterNames
      .withColumn("_p", parseProbe(col("name")))
      .withColumn("_block", lower(col("_p._3")))

    // the reference's member_lookup is keyed last → {name TUPLE → member}
    // (match_names.py:106), so block cardinality and the uniqueness gate
    // count DISTINCT name tuples, not roster rows — duplicate member
    // records with identical names must not block a match
    val wBlock = Window.partitionBy("year", "chamber", "_block")
    val nameTuple = struct(col("first"), col("middle"), col("last"), col("suffix"))
    val rosterB = roster
      .withColumn("_block", lower(coalesce(col("last"), lit(""))))
      .withColumn("_ntuple", nameTuple)
      .withColumn("_n_last", size(collect_set(col("_ntuple")).over(wBlock)))

    // normalized probe first: "J." → "J" (match_names.py:36-37), applied
    // only on the multi-candidate branch of get_match
    val normFirst = when(length(col("_p._1")) === 2 &&
      substring(col("_p._1"), 2, 1) === ".", substring(col("_p._1"), 1, 1))
      .otherwise(col("_p._1"))

    val joined = probes.join(rosterB, Seq("year", "chamber", "_block"))
      .withColumn("_norm_first", normFirst)
      .withColumn("_hit_single", NameUdfs.isSameName(
        col("_p._1"), col("_p._2"), col("_p._3"), col("_p._4"),
        col("first"), col("middle"), col("last"), col("suffix"),
        lit(false)).isNotNull)
      .withColumn("_hit_multi", col("_p._1") =!= "" && NameUdfs.isSameName(
        col("_norm_first"), col("_p._2"), col("_p._3"), col("_p._4"),
        col("first"), col("middle"), col("last"), col("suffix"),
        lit(false)).isNotNull)
      .withColumn("_hit",
        when(col("_n_last") === 1, col("_hit_single")).otherwise(col("_hit_multi")))

    joined
      .groupBy("year", "chamber", "name")
      .agg(min(when(col("_hit"), col("member_id"))).as("member_id"),
        countDistinct(when(col("_hit"), col("_ntuple"))).as("_n_hits"))
      .filter(col("_n_hits") === 1)
      .select(col("year"), col("chamber"), col("name"), col("member_id"),
        lit("fuzzy").as("method"))
  }

  /** @param voterNames distinct voter names: (year, chamber, name)
    * @param roster     members serving: (year, chamber, member_id, first,
    *                   middle, last, suffix) — nulls allowed in name parts
    * @return matches (year, chamber, name, member_id, method), plus the
    *         unmatched residue on both sides (`missingNames` keeps the
    *         columns of `voterNames`, `unmatchedMembers` those of `roster`).
    *         All three are driver-local relations: reading them launches no
    *         job.
    */
  def run(spark: SparkSession, voterNames: DataFrame, roster: DataFrame,
          maxResidue: Int = DefaultMaxResidue): Result = {
    // Pass-1 rows are bounded by the distinct voter names; the residues are
    // per-group tiny unless pass 1 has degraded (e.g. a broken blocking key
    // matching nothing). head(cap+1) bounds driver memory either way, and
    // the require fails loudly with a diagnosis instead of OOMing.
    def capped(df: DataFrame, what: String, why: String): Array[Row] = {
      val rows = df.head(maxResidue + 1)
      require(rows.length <= maxResidue,
        s"MatchNames $what exceeds $maxResidue rows — $why; refusing the " +
          "driver-side fixed point")
      rows
    }
    val degraded = "pass 1 has degraded (check the blocking key / roster join)"
    val fuzzy = pass1(voterNames, roster)
    val fuzzyRows = capped(fuzzy, "pass 1: matched voter names",
      "there are more distinct voter names than the cap allows")
    val fuzzyLocal = spark.createDataFrame(fuzzyRows.toSeq.asJava, fuzzy.schema)

    // ---- residue after pass 1; the roster side also carries the pass-2 key,
    // computed by Spark's `upper` next to the full roster row
    val missing1Df = voterNames.join(fuzzyLocal, Seq("year", "chamber", "name"), "left_anti")
    val unmatched1Df = roster.join(fuzzyLocal.select("year", "chamber", "member_id"),
      Seq("year", "chamber", "member_id"), "left_anti")
    val missing1 = capped(missing1Df,
      "pass 2: unmatched voter-name residue", degraded)
    val unmatched1 = capped(
      unmatched1Df.withColumn("_last_u", upper(coalesce(col("last"), lit("")))),
      "pass 2: unmatched roster residue", degraded)

    // ---- pass 2: substring fixed point on the driver (match_names.py:139-156).
    // A USING join puts its keys first, so the residue rows start with
    // (year, chamber, name) and (year, chamber, member_id); `_last_u` is last.
    def group(r: Row) = (r.getInt(0), r.getInt(1))
    val lastU = unmatched1Df.schema.length
    val extra = Vector.newBuilder[Row]
    val groups = (missing1.map(group) ++ unmatched1.map(group)).distinct
    val missingByGroup = missing1.toIndexedSeq.groupBy(group)
    val unmatchedByGroup = unmatched1.toIndexedSeq.groupBy(group)
    for ((y, c) <- groups) {
      val missingNames = collection.mutable.LinkedHashSet[String](
        missingByGroup.getOrElse((y, c), IndexedSeq.empty).map(_.getString(2)): _*)
      val unmatchedByLast = collection.mutable.LinkedHashMap[String, List[Long]]()
      for (r <- unmatchedByGroup.getOrElse((y, c), IndexedSeq.empty))
        unmatchedByLast(r.getString(lastU)) =
          unmatchedByLast.getOrElse(r.getString(lastU), Nil) :+ r.getLong(2)

      var changed = true
      while (changed) {
        changed = false
        for (name <- missingNames.toList) {
          val hits = unmatchedByLast.toList.collect {
            case (lastU, ids) if lastU.contains(name) => (lastU, ids)
          }
          val ids = hits.flatMap(_._2)
          if (ids.length == 1) {
            extra += Row(y, c, name, ids.head, "substring")
            missingNames -= name
            // reference removes the WHOLE last-name bucket (match_names.py:155)
            unmatchedByLast -= hits.head._1
            changed = true
          }
        }
      }
    }

    // ---- residue after pass 2: the pass-1 residues minus the pass-2 hits
    val substring = extra.result()
    def key(r: Row) = (r.getInt(0), r.getInt(1), r.get(2))
    val hitNames = substring.map(key).toSet
    val hitMembers = substring.map(r => (r.getInt(0), r.getInt(1), r.get(3))).toSet
    val missing = missing1.filterNot(r => hitNames(key(r)))
    val unmatched = unmatched1.filterNot(r => hitMembers(key(r)))
      .map(r => Row.fromSeq(r.toSeq.take(lastU)))

    Result(
      spark.createDataFrame((fuzzyRows ++ substring).toSeq.asJava, fuzzy.schema),
      spark.createDataFrame(missing.toSeq.asJava, missing1Df.schema),
      spark.createDataFrame(unmatched.toSeq.asJava, unmatched1Df.schema))
  }

  /** Per-group resolution stats with the reference's integer-floor percent
    * display (match_names.py:158-166, F17).
    */
  def stats(r: Result): DataFrame = {
    val m = r.matches.groupBy("year", "chamber").agg(count(lit(1)).as("n_matched"))
    val miss = r.missingNames.groupBy("year", "chamber").agg(count(lit(1)).as("n_missing"))
    val um = r.unmatchedMembers.groupBy("year", "chamber").agg(count(lit(1)).as("n_unmatched"))
    m.join(miss, Seq("year", "chamber"), "full")
      .join(um, Seq("year", "chamber"), "full")
      .na.fill(0)
      .withColumn("pct_matched",
        floor(lit(100) * col("n_matched") / (col("n_matched") + col("n_missing"))))
  }

  /** The curator-facing diagnostic listing (match_names.py:192-221): for
    * every group with unresolved residue, one row per finding —
    *
    *  - `ambiguous`: a vote name that EQUALS an unmatched member's
    *    upper(last) yet stayed unresolved; one row per candidate member
    *    (the listing a curator acts on, match_names.py:195-200);
    *  - `unmatched_member`: an unmatched member whose upper(last) no
    *    missing vote name claims (match_names.py:202-205);
    *  - `unmatched_name`: a missing vote name matching no member's last
    *    (match_names.py:216-217).
    *
    * `member_name` is the dict_to_name display ("First Middle Last
    * Suffix"); null for `unmatched_name` rows.
    */
  def ambiguityReport(r: Result): DataFrame = {
    val display = concat_ws(" ",
      Seq("first", "middle", "last", "suffix").map(c => coalesce(col(c), lit(""))): _*)
    // both frames share the Result's lineage — alias before the self-ish
    // joins so attribute references stay unambiguous
    val um = r.unmatchedMembers
      .select(col("year"), col("chamber"), col("member_id"),
        upper(coalesce(col("last"), lit(""))).as("_name"),
        trim(regexp_replace(display, " +", " ")).as("member_name"))
      .as("um")
    val missing = r.missingNames.select("year", "chamber", "name").as("ms")
    val onName = col("ms.year") === col("um.year") &&
      col("ms.chamber") === col("um.chamber") && col("ms.name") === col("um._name")

    val ambiguous = missing.join(um, onName)
      .select(col("ms.year").as("year"), col("ms.chamber").as("chamber"),
        col("ms.name").as("name"), lit("ambiguous").as("status"),
        col("um.member_id").as("member_id"), col("um.member_name").as("member_name"))
    val unmatchedMember = um.join(missing, onName, "left_anti")
      .select(col("year"), col("chamber"), col("_name").as("name"),
        lit("unmatched_member").as("status"), col("member_id"), col("member_name"))
    val unmatchedName = missing.join(um, onName, "left_anti")
      .select(col("year"), col("chamber"), col("name"),
        lit("unmatched_name").as("status"),
        lit(null).cast("long").as("member_id"),
        lit(null).cast("string").as("member_name"))

    ambiguous.unionByName(unmatchedMember).unionByName(unmatchedName)
      .orderBy("year", "chamber", "name", "member_id")
  }

  /** Write-back (S9, match_names.py:168-188): fill votes.member_id from the
    * matches, but only for (year, chamber) groups that resolved completely
    * (zero missing names AND zero unmatched members). The gate is computed
    * on the driver — the frames [[run]] returns are local, so this collects
    * without a job — and the gated map is broadcast into `votes`.
    */
  def applyMatches(votes: DataFrame, rollYearChamber: DataFrame, r: Result): DataFrame = {
    def groups(df: DataFrame) =
      df.select("year", "chamber").collect().map(x => (x.getInt(0), x.getInt(1)))
    val incomplete = (groups(r.missingNames) ++ groups(r.unmatchedMembers)).toSet
    val byName = r.matches.select(col("year"), col("chamber"), col("name"),
      col("member_id").as("_new_member_id"))
    val gated = byName.collect().filterNot(x => incomplete((x.getInt(0), x.getInt(1))))
    val gatedDf = votes.sparkSession.createDataFrame(gated.toSeq.asJava, byName.schema)
    votes.join(rollYearChamber, Seq("roll_id"), "left")
      .join(broadcast(gatedDf), Seq("year", "chamber", "name"), "left")
      .withColumn("member_id", coalesce(col("member_id"), col("_new_member_id")))
      .drop("_new_member_id", "year", "chamber")
  }
}
