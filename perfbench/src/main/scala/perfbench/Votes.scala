package perfbench

import graft.votes._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The paper's own job on a generated vote corpus: melt the wide CSVs,
  * link voter names to members, merge duplicate members, apply the
  * curation edits and export per-(year, chamber) CSVs. Each stage is one
  * operation and materializes its outputs, the way the reference persists
  * each step to its database. Outputs are checked against the generator's
  * truth by pb/votes_check.py from what [[run]] records.
  */
final class Votes(spark: SparkSession, rec: Recorder, inputs: String,
                  work: String) extends Workload {
  private val exportDir = s"$work/export"
  private var members: DataFrame = _
  private var service: DataFrame = _
  private var edits: ApplyEdits.Edits = _

  def outputDirs: Seq[String] = Seq(exportDir)

  def setup(): Unit = {
    members = spark.read.option("header", "true")
      .schema(Schemas.members).csv(s"$inputs/members.csv").cache()
    service = spark.read.option("header", "true")
      .schema(Schemas.service).csv(s"$inputs/service.csv").cache()
    members.count(); service.count()
    edits = ApplyEdits.parseYaml(s"$inputs/edits.yaml")
  }

  private def keep(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def run(pass: Int): Unit = {
    val kept = collection.mutable.ArrayBuffer.empty[DataFrame]
    def k(df: DataFrame): DataFrame = { val p = keep(df); kept += p; p }
    var long, votes, rolls, rollCalls, days, sessions: DataFrame = null
    var votesM, members2, service2, votes2, votes3, members3, service3: DataFrame = null

    rec.op("melt", "melt", pass) { o =>
      long = rec.span("votes.VoteMatrix.meltAll") {
        k(VoteMatrix.meltAll(spark, s"$inputs/vote_data"))
      }
      val session = col("year") * 10 + col("chamber")
      val rollId = col("year").cast("long") * 1000000L + col("chamber") * 100000L + col("row_idx")
      rec.span("votes.model") {
        votes = k(long.filter(col("letter").isNotNull).select(
          session.cast("long").as("session_id"), rollId.as("roll_id"),
          col("member_name").as("name"), VoteCode.fromLetterCol(col("letter")).as("vote"),
          lit(null).cast("long").as("member_id")))
        rolls = k(long.select("year", "chamber", "row_idx", "roll_name", "roll_number",
            "stamp_raw").distinct()
          .withColumn("roll_id", rollId)
          .withColumn("date", to_date(substring(col("stamp_raw"), 1, 10)))
          .withColumn("stamp", when(length(col("stamp_raw")) > 10, to_timestamp(col("stamp_raw"))))
          .withColumn("day_id", col("year").cast("long") * 100000L + col("chamber") * 1000L +
            dayofyear(col("date"))))
      }
      rollCalls = rolls.select(col("roll_id").as("id"), col("day_id"),
        col("year").as("session_year"), lit(0).as("session_index"), col("chamber"),
        col("roll_number").as("number"), col("roll_name").as("name"), col("stamp"))
      days = rolls.select(col("day_id").as("id"), session.cast("long").as("session_id"),
          col("date"), current_timestamp().as("last_crawl")).distinct()
      sessions = rolls.select(session.cast("long").as("id"), col("chamber"), col("year"),
          lit(0).as("session_index"), lit("").as("name"),
          current_timestamp().as("last_crawl")).distinct()
      o.info("cells") = long.count()
    }

    rec.op("match", "match", pass) { o =>
      val voterNames = long.select(col("year"), col("chamber"), col("member_name").as("name"))
        .distinct()
      val roster = service.join(members, col("member_id") === col("id"))
        .select("year", "chamber", "member_id", "first", "middle", "last", "suffix")
      val r = rec.span("votes.MatchNames.run") {
        val r = MatchNames.run(spark, voterNames, roster)
        r.copy(matches = k(r.matches))
      }
      votesM = rec.span("votes.MatchNames.applyMatches") {
        k(MatchNames.applyMatches(votes, rolls.select("roll_id", "year", "chamber"), r))
      }
      o.info("matches") = r.matches.select("year", "chamber", "name", "member_id")
        .collect().map(x => Seq(x.getInt(0), x.getInt(1), x.getString(2), x.getLong(3))).toSeq
      o.info("names") = voterNames.count()
    }

    rec.op("find_duplicates", "find_duplicates", pass) { o =>
      val merges = rec.span("votes.FindDuplicates.candidatePairs+mergeGroups") {
        FindDuplicates.mergeGroups(FindDuplicates.candidatePairs(members, service))
      }
      rec.span("votes.FindDuplicates.applyMerges") {
        val applied = FindDuplicates.applyMerges(members, service, merges)
        members2 = k(applied.members)
        service2 = k(applied.service)
        import spark.implicits._
        val mapping = merges.flatMap(m => m.absorbed.map(x => (x, m.survivor)))
          .toDF("_old", "_new")
        votes2 = k(votesM.join(broadcast(mapping), col("member_id") === col("_old"), "left")
          .withColumn("member_id", coalesce(col("_new"), col("member_id")))
          .drop("_old", "_new"))
      }
      o.info("merges") = merges.map(m => Seq(m.survivor, m.absorbed.sorted))
    }

    rec.op("apply_edits", "apply_edits", pass) { o =>
      votes3 = rec.span("votes.ApplyEdits.applyVoteRenames") {
        k(ApplyEdits.applyVoteRenames(votes2, rolls.select("roll_id", "stamp"),
          edits.voteRenames))
      }
      service3 = rec.span("votes.ApplyEdits.applyYearEdits") {
        k(ApplyEdits.applyYearEdits(service2, members2, edits.yearEdits))
      }
      members3 = rec.span("votes.ApplyEdits.applyMemberRenames") {
        k(ApplyEdits.applyMemberRenames(members2, edits.memberRenames))
      }
      o.info("service_rows") = service3.count()
      o.info("renamed") = votes3.filter(col("name").isin(edits.voteRenames.map(_.after): _*))
        .groupBy("name").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }

    rec.op("export", "export", pass) { _ =>
      Main.deleteRecursively(exportDir)
      rec.span("votes.Export.exportLong+writeAllDistributed") {
        Export.writeAllDistributed(spark,
          Export.exportLong(sessions, days, rollCalls, votes3, members3, service3), exportDir)
      }
    }
    kept.foreach(_.unpersist())
  }

  override def summary: Map[String, Any] = Map("export_dir" -> exportDir)
}
