package graft.votes

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** ER pipeline tests: blocked fuzzy pass + substring fixed point
  * (reference: match_names.py).
  */
class MatchNamesSpec extends SparkSpec {

  import spark.implicits._

  private lazy val roster = Seq(
    (2023, Chamber.HOUSE, 1L, "Patrick", "J.", "Harkins", null),
    (2023, Chamber.HOUSE, 2L, "Robert", "E.", "Merski", null),
    (2023, Chamber.HOUSE, 3L, "Ryan", "A.", "Bizzarro", null),
    (2023, Chamber.HOUSE, 4L, "Michael", null, "Smith", null),
    (2023, Chamber.HOUSE, 5L, "Jane", null, "Smith", null),
    (2023, Chamber.HOUSE, 6L, "Amen", null, "Brown", null),
    (2023, Chamber.HOUSE, 7L, "Marla", null, "Brown", null),
    (2023, Chamber.HOUSE, 8L, "Carrie", "A. Lewis", "DelRosso", null)
  ).toDF("year", "chamber", "member_id", "first", "middle", "last", "suffix")

  private def namesDf(names: String*) =
    names.map(n => (2023, Chamber.HOUSE, n))
      .toDF("year", "chamber", "name")

  test("ambiguity report lists candidates per unresolved name, per reference roles") {
    // SMITH is ambiguous (two Smith members, bare last can't resolve);
    // DELROSSO never appears as a vote name → unmatched_member;
    // NOSUCH matches nobody → unmatched_name. HARKINS resolves and must
    // not appear at all.
    val r = MatchNames.run(spark,
      namesDf("HARKINS", "SMITH", "NOSUCH"),
      roster.filter($"member_id".isin(1L, 4L, 5L, 8L)))
    val rows = MatchNames.ambiguityReport(r).collect()
      .map(x => (x.getString(2), x.getString(3), Option(x.get(4)),
        Option(x.getAs[String]("member_name"))))

    val ambiguous = rows.filter(_._2 == "ambiguous")
    assert(ambiguous.map(_._3.get).toSet == Set(4L, 5L))
    assert(ambiguous.map(_._4.get).toSet == Set("Michael Smith", "Jane Smith"))
    assert(rows.filter(_._2 == "unmatched_member").map(t => (t._1, t._4.get)).toSeq ==
      Seq(("DELROSSO", "Carrie A. Lewis DelRosso")))
    assert(rows.filter(_._2 == "unmatched_name").map(_._1).toSeq == Seq("NOSUCH"))
    assert(!rows.exists(_._1 == "HARKINS"))
  }

  test("pass-2 residue over maxResidue fails loudly instead of OOMing the driver") {
    // three unmatchable probes → residue 3 > cap 2; the guard must trip
    // before the driver-side fixed point starts
    val e = intercept[IllegalArgumentException] {
      MatchNames.run(spark, namesDf("ZZZXA", "ZZZXB", "ZZZXC"), roster,
        maxResidue = 2)
    }
    assert(e.getMessage.contains("residue exceeds"))
  }

  test("bare last name matches when unique in block") {
    val r = MatchNames.run(spark, namesDf("HARKINS", "MERSKI"), roster)
    val m = r.matches.collect().map(x => x.getString(2) -> x.getLong(3)).toMap
    assert(m == Map("HARKINS" -> 1L, "MERSKI" -> 2L))
    assert(r.missingNames.count() == 0)
  }

  test("bare ambiguous last name does not match") {
    val r = MatchNames.run(spark, namesDf("SMITH"), roster)
    assert(r.matches.filter($"method" === "fuzzy").count() == 0)
  }

  test("duplicate roster rows with identical name tuples still match") {
    // the reference's member_lookup collapses identical name tuples into
    // one dict key (match_names.py:106), so a pre-merge duplicate member
    // record must not trip the uniqueness gate
    val dupRoster = Seq(
      (2023, Chamber.HOUSE, 1L, "Patrick", "J.", "Harkins", null),
      (2023, Chamber.HOUSE, 9L, "Patrick", "J.", "Harkins", null)
    ).toDF("year", "chamber", "member_id", "first", "middle", "last", "suffix")
    val r = MatchNames.run(spark, namesDf("HARKINS"), dupRoster)
    val m = r.matches.filter($"method" === "fuzzy").collect()
    assert(m.length == 1, "one distinct name tuple must match")
    assert(m.head.getLong(3) == 1L)
  }

  test("first-name qualified ambiguous last matches; nickname resolves") {
    val r = MatchNames.run(spark, namesDf("MIKE SMITH", "JANE SMITH", "A. BROWN"), roster)
    val m = r.matches.collect().map(x => x.getString(2) -> x.getLong(3)).toMap
    assert(m("MIKE SMITH") == 4L)
    assert(m("JANE SMITH") == 5L)
    assert(m("A. BROWN") == 6L)
  }

  test("substring pass resolves what fuzzy cannot, with uniqueness gate") {
    // "BIZZ" is not parseable to a last name match but is a substring of
    // exactly one unmatched member's last
    val r = MatchNames.run(spark, namesDf("HARKINS", "BIZZ"), roster)
    val m = r.matches.collect().map(x => (x.getString(2), x.getLong(3), x.getString(4)))
    assert(m.contains(("BIZZ", 3L, "substring")))

    // a pass-2 hit leaves both residues
    val missing = r.missingNames.collect().map(_.getString(2)).toSet
    val unmatched = r.unmatchedMembers.collect().map(_.getAs[Long]("member_id")).toSet
    assert(!missing.contains("BIZZ"))
    assert(!unmatched.contains(3L))

    // and the residues equal their anti-join definitions over the matches
    val keys = Seq("year", "chamber")
    val refMissing = namesDf("HARKINS", "BIZZ")
      .join(r.matches, keys :+ "name", "left_anti").collect().map(_.getString(2)).toSet
    val refUnmatched = roster
      .join(r.matches.select("year", "chamber", "member_id"), keys :+ "member_id", "left_anti")
    assert(missing == refMissing)
    assert(r.unmatchedMembers.schema == refUnmatched.schema)
    assert(r.unmatchedMembers.collect().toSet == refUnmatched.collect().toSet)
  }

  test("applyMatches fills member ids only for fully-resolved groups") {
    val votes = Seq(
      (1L, 100L, "HARKINS", VoteCode.YEA, None: Option[Long]),
      (1L, 100L, "MERSKI", VoteCode.NAY, None: Option[Long])
    ).toDF("session_id", "roll_id", "name", "vote", "member_id")
    val rollYc = Seq((100L, 2023, Chamber.HOUSE)).toDF("roll_id", "year", "chamber")

    // full roster unmatched → group NOT fully resolved → no fill
    val r1 = MatchNames.run(spark, namesDf("HARKINS", "MERSKI"), roster)
    val v1 = MatchNames.applyMatches(votes, rollYc, r1)
    assert(v1.filter($"member_id".isNotNull).count() == 0)

    // restrict roster to the two matched members → fully resolved → fill
    val smallRoster = roster.filter($"member_id" <= 2L)
    val r2 = MatchNames.run(spark, namesDf("HARKINS", "MERSKI"), smallRoster)
    val v2 = MatchNames.applyMatches(votes, rollYc, r2)
    assert(v2.filter($"member_id".isNotNull).count() == 2)
  }

  test("ER join plan stays blocked (no cartesian product)") {
    val probes = namesDf("HARKINS", "MERSKI", "MIKE SMITH")
    val plan = MatchNames.pass1(probes, roster).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"ER join degraded to cartesian product:\n$plan")
  }

  test("run + applyMatches stay within their job budget (pass 1 runs once)") {
    // Measured at 12 jobs on this fixture: 5 for pass 1 (its shuffle
    // stages and the collect), 2 per residue (broadcasting the local
    // pass-1 rows, then the collect) and 3 for the caller's count. Reading
    // the Result frames launches none. Re-running pass 1 for each residue
    // and each Result frame, as a plan-valued Result did, launched 34.
    val budget = 12
    val votes = Seq(
      (1L, 100L, "HARKINS", VoteCode.YEA, None: Option[Long]),
      (1L, 100L, "BIZZ", VoteCode.NAY, None: Option[Long])
    ).toDF("session_id", "roll_id", "name", "vote", "member_id")
    val rollYc = Seq((100L, 2023, Chamber.HOUSE)).toDF("roll_id", "year", "chamber")
    val names = namesDf("HARKINS", "BIZZ", "MIKE SMITH")

    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = MatchNames.run(spark, names, roster)
      MatchNames.applyMatches(votes, rollYc, r).count()
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= budget, s"${jobs.get()} jobs launched, budget $budget")
  }
}
