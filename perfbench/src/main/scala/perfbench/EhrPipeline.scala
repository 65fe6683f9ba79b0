package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analytics.Cohort
import graft.features.Featurizer
import graft.ingest.EtlJob
import graft.ml.{ModelRegistry, Scorer, Trainer}
import graft.sources.CsvIngest

/** The reference chain end to end on generated Synthea-shaped CSVs (the
  * columns of the engine's EHR test fixtures): ETL, the four dashboards,
  * featurize, a seeded training search, promotion, scoring.
  *
  * Ground truth planted by the generator:
  *   - diabetic patients see a doctor every 10 to 40 days, nearly always
  *     for diabetes, so the 90-day window features carry the diabetes
  *     signal the model must learn;
  *   - hypertension is the comorbidity of diabetes;
  *   - SUFFIX and MAIDEN are mostly empty, so de-identification hashes
  *     NULL PII values too.
  */
final class EhrPipeline(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import EhrPipeline._

  private var csvDir = ""
  private var lakeDir = ""
  private var registry: ModelRegistry = _
  private var truth: Truth = _

  def lakeRoot: String = lakeDir

  def setup(repDir: String): Unit = {
    csvDir = s"$repDir/csv"
    lakeDir = s"$repDir/lake"
    registry = new ModelRegistry(s"$repDir/registry")
    truth = generate(seed, csvDir)
    // the landed fact file parses to the rows generated
    val n = CsvIngest.ingest(spark, s"$csvDir/encounters.csv").count()
    check(n == truth.encounters, s"landed encounters.csv has $n rows, generated ${truth.encounters}")
  }

  def round(): Unit = {
    run("write", "etl") {
      call("ingest", "etl")(EtlJob.run(spark, csvDir, lakeDir, Database))
    } { _ =>
      val pe = spark.table(s"$Database.patient_encounters")
      val rows = pe.count()
      val badPii = spark.table(s"$Database.patients")
        .where(!EtlJob.PiiCols.map(c => col(c).rlike("^[0-9a-f]{40}$")).reduce(_ && _))
        .count()
      expect(rows == truth.encounters && badPii == 0,
        s"star join has $rows rows (want ${truth.encounters}), $badPii rows with unhashed PII")
    }
    val pe = spark.table(s"$Database.patient_encounters")

    run("read", "top_categories") {
      call("analytics", "top_categories")(
        Cohort.topCategories(pe, "REASONDESCRIPTION", 5).collect())
    } { top =>
      val counts = top.map(_.getLong(1)).toSeq
      expect(top.nonEmpty && counts == counts.sorted.reverse, s"top counts not descending: $counts")
    }
    run("read", "co_occurring") {
      call("analytics", "co_occurring")(
        Cohort.coOccurring(pe, "PATIENT", "REASONDESCRIPTION", "diabetes", 5).collect())
    } { co =>
      expect(co.headOption.map(_.getString(0)).contains(Comorbidity),
        s"planted comorbidity $Comorbidity not first: ${co.map(_.getString(0)).toSeq}")
    }
    run("read", "case_control") {
      call("analytics", "case_control")(
        Cohort.caseControl(pe, "PATIENT", "REASONDESCRIPTION", "diabetes")
          .groupBy("label").count().collect())
    } { rows =>
      val byLabel = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      expect(byLabel.get(1).contains(truth.diabetic) && byLabel.get(0).contains(truth.diabetic),
        s"case/control sizes $byLabel, want ${truth.diabetic} each")
    }
    run("read", "chi_square") {
      call("analytics", "chi_square")(
        Cohort.chiSquare(pe, col("GENDER"), col("REASONDESCRIPTION").isNotNull).head())
    } { r =>
      expect(r.getDouble(0) >= 0 && r.getLong(1) == 1L && r.getDouble(2) >= 0 && r.getDouble(2) <= 1,
        s"chi-square row $r")
    }

    val featurized = run("write", "featurize") {
      call("features", "featurize") {
        val feats = Featurizer.encounterFeatures(pe, Conditions, windowDays = 90)
        val fz = Featurizer.assemble(feats, Seq("MARITAL", "RACE", "GENDER"),
          Seq("recent_0", "recent_1", "recent_2", "recent_encounters", "age", "ZIP"))
        (fz, fz.data.count())
      }
    } { case (_, n) => expect(n == truth.withReason, s"featurized $n rows, want ${truth.withReason}") }
    val fz = featurized.getOrElse(return)._1

    val Array(train, test) = fz.data.randomSplit(Array(0.7, 0.3), seed)
    run("write", "train") {
      val result = call("ml", "train")(Trainer.search(train, test, evals = Evals, seed = SearchSeed))
      call("ml", "promote")(registry.promote(result.model, ModelName, Stage))
      val auc = call("ml", "eval")(Trainer.auc(result.model, test))
      (result, auc)
    } { case (result, auc) =>
      figures("best_auc") = result.best.auc
      // the re-evaluation scores a fresh draw of the lazy test split
      expect(result.evals.length == Evals && result.best.auc >= AucFloor && auc >= AucFloor,
        s"best AUC ${result.best.auc}, re-evaluated $auc, floor $AucFloor")
    }
    run("read", "score") {
      call("ml", "score") {
        val scored = Scorer.scoreWithMetadata(registry, Scorer.ModelRef(ModelName, Stage), fz.data)
        val breakdown = Scorer.predictionBreakdown(scored, Seq("MARITAL", "RACE", "GENDER")).collect()
        (scored.select("model_version").head().getLong(0), breakdown)
      }
    } { case (version, breakdown) =>
      expect(version == registry.currentVersion(ModelName, Stage) && breakdown.nonEmpty &&
          breakdown.forall(_.getLong(4) > 0),
        s"scored with version $version, ${breakdown.length} breakdown rows")
    }
  }
}

object EhrPipeline {
  val Database = "rwd_bench"
  val Conditions = Seq("diabetes", "hypertension", "asthma")
  val Comorbidity = "Hypertension"
  val ModelName = "comorbidity_dt"
  val Stage = "Production"
  val Evals = 2
  /** The search's own seed stays fixed, so every run draws the same
    * hyperparameters (two depth-6 trees) and training time depends on the
    * data alone.
    */
  val SearchSeed = 7L
  /** The planted window signal gives a tree well above chance. */
  val AucFloor = 0.75

  val Patients = 500
  val Organizations = 20
  val Providers = 20

  /** What the generator planted, for the output checks. */
  final case class Truth(encounters: Long, withReason: Long, diabetic: Long)

  private def writeCsv(path: String, header: String, rows: Iterator[String]): Unit = {
    new File(path).getParentFile.mkdirs()
    val pw = new PrintWriter(path, "UTF-8")
    try {
      pw.println(header)
      rows.foreach(r => pw.println(r))
    } finally pw.close()
  }

  def generate(seed: Long, csvDir: String): Truth = {
    val rnd = new scala.util.Random(seed)
    val day0 = java.time.LocalDate.of(2015, 1, 1)
    writeCsv(s"$csvDir/organizations.csv", "Id,NAME,ADDRESS,CITY,STATE,ZIP,GENDER",
      (0 until Organizations).iterator.map(i =>
        s"o$i,Org $i,$i Org Ave,City${i % 7},MA,${20000 + i},"))
    writeCsv(s"$csvDir/providers.csv", "Id,NAME,SPECIALITY",
      (0 until Providers).iterator.map(i =>
        s"pr$i,Provider $i,${Seq("GP", "CARDIO", "ENDO", "PULM")(i % 4)}"))

    val marital = Seq("M", "S", "W", "D")
    val race = Seq("white", "black", "asian", "hispanic", "native")
    val patients = (0 until Patients).map { i =>
      val diabetic = rnd.nextDouble() < 0.3
      val birth = day0.minusDays(365L * (18 + rnd.nextInt(70)) + rnd.nextInt(365))
      val suffix = if (rnd.nextDouble() < 0.1) "Jr." else ""
      val maiden = if (rnd.nextDouble() < 0.2) s"Maiden$i" else ""
      val row = Seq(f"p$i%06d", birth.toString, f"999-${i % 100}%02d-${1000 + i}%04d",
        f"D$i%08d", f"X$i%08d", Seq("Mr.", "Mrs.", "Ms.")(rnd.nextInt(3)), s"First$i",
        s"Last${rnd.nextInt(500)}", suffix, maiden, s"City${rnd.nextInt(40)}",
        s"$i Main St", marital(rnd.nextInt(4)), race(rnd.nextInt(5)),
        Seq("hispanic", "nonhispanic")(rnd.nextInt(2)), Seq("M", "F")(rnd.nextInt(2)),
        (10000 + rnd.nextInt(900)).toString).mkString(",")
      (row, diabetic)
    }
    writeCsv(s"$csvDir/patients.csv",
      "Id,BIRTHDATE,SSN,DRIVERS,PASSPORT,PREFIX,FIRST,LAST,SUFFIX,MAIDEN,BIRTHPLACE,ADDRESS,MARITAL,RACE,ETHNICITY,GENDER,ZIP",
      patients.iterator.map(_._1))

    var encounters = 0L
    var withReason = 0L
    val diabeticIds = scala.collection.mutable.Set.empty[Int]
    val reasons = Seq("Hypertension" -> 1168, "Asthma" -> 195967, "Acute bronchitis" -> 10509,
      "Sprain of ankle" -> 44465, "Viral sinusitis" -> 444814)
    val encRows = patients.indices.iterator.flatMap { p =>
      val diabetic = patients(p)._2
      val n = 6 + rnd.nextInt(12)
      var day = rnd.nextInt(1000)
      (0 until n).map { j =>
        day += (if (diabetic) 10 + rnd.nextInt(31) else 20 + rnd.nextInt(200))
        val u = rnd.nextDouble()
        val reason: Option[(String, Int)] =
          if (diabetic) {
            if (u < 0.92) Some("Diabetes mellitus" -> 44054006)
            else if (u < 0.97) Some(reasons.head)
            else None
          } else {
            if (u < 0.25) None
            else Some(reasons(rnd.nextInt(reasons.length)))
          }
        if (reason.exists(_._1.startsWith("Diabetes"))) diabeticIds += p
        encounters += 1
        if (reason.nonEmpty) withReason += 1
        val start = day0.plusDays(day).atTime(8 + rnd.nextInt(9), rnd.nextInt(60))
        val stop = start.plusMinutes(15 + rnd.nextInt(90))
        Seq(f"e$p%06d_$j%02d", s"${start}:00Z", s"${stop}:00Z", f"p$p%06d",
          s"o${rnd.nextInt(Organizations)}", (100 + rnd.nextInt(50)).toString,
          s"Encounter ${rnd.nextInt(50)}", "%.2f".formatLocal(java.util.Locale.ROOT, 50 + rnd.nextDouble() * 200),
          reason.map(_._2.toString).getOrElse(""), reason.map(_._1).getOrElse("")).mkString(",")
      }
    }.toVector
    writeCsv(s"$csvDir/encounters.csv",
      "Id,START,STOP,PATIENT,PROVIDER,CODE,DESCRIPTION,COST,REASONCODE,REASONDESCRIPTION",
      encRows.iterator)
    Truth(encounters, withReason, diabeticIds.size.toLong)
  }
}
