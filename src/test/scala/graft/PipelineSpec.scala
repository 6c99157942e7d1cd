package graft

import java.nio.file.{Files, Path}
import graft.pipeline.{StageDeaths, StagePlants}

/** Golden tests over reference-shaped fixtures (FIXTURES.md §A), generated
  * into a temp dir: fixed-width death records with edge rows, a city-geo
  * lookup with a NaN row, and `;`-separated plant CSVs with multi-unit
  * plants and a bad date.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  def deathLine(name: String, birth: String, death: String, insee: String): String =
    name.padTo(80, ' ') + "1" + birth + "X".padTo(65, ' ') + death + insee + "123"

  lazy val dir: Path = {
    val d = tempDir("graft-fixtures")
    Files.writeString(d.resolve("death_2022_m07.txt"), Seq(
      deathLine("THERON*JEANNINE/", "19250404", "20220804", "01007"),
      deathLine("MARTIN*PAUL/", "19400101", "20220700", "01007"),   // day 00 -> null -> dropped
      deathLine("DUPONT*MARIE/", "19330215", "20220801", "99999"),  // unknown INSEE -> dropped
      deathLine("THERON*JEANNINE/", "19250404", "20220804", "01007") // duplicate id -> deduped
    ).mkString("\n"))
    Files.writeString(d.resolve("city_geo.csv"),
      """code_commune_INSEE,nom_commune,latitude,longitude
        |01007,AMBRONAY,46.005,5.359
        |01008,AMBUTRIX,45.936,
        |""".stripMargin) // missing longitude -> NaN-ish -> dropped
    Files.writeString(d.resolve("thermal.csv"),
      """tri;perimetre_juridique;perimetre_spatial;spatial_perimeter;filiere;sector;centrale;tranche;combustible;fuel;sous_filiere;sub_sector;date_de_mise_en_service_industrielle;puissance_installee;unite;point_gps_wsg84;region;code_insee_region;departement;code_insee_departement;epci;code_insee_epci;commune;code_insee_commune;reserve_secondaire_maximale
        |1;EDF;P;P;Thermique;Thermal;CORDEMAIS;4;Charbon;Coal;C;C;1983-07-01;600;MW;47.29,-1.88;PDL;52;LA;44;N;244400404;CORDEMAIS;44045;
        |2;EDF;P;P;Thermique;Thermal;CORDEMAIS;5;Charbon;Coal;C;C;1984-05-01;600;MW;47.29,-1.88;PDL;52;LA;44;N;244400404;CORDEMAIS;44045;
        |3;EDF;P;P;Thermique;Thermal;BADDATE;1;Fioul;Oil;F;F;not-a-date;700;MW;43.40,5.05;PACA;93;BDR;13;M;200054807;MARTIGUES;13056;
        |""".stripMargin)
    Files.writeString(d.resolve("nuclear.csv"),
      """centrale;tranche;filiere;sector;sous_filiere;contrat_programme;combustible;fuel;point_gps_wsg84;region;code_insee_region;departement;code_insee_departement;epci;code_insee_epci;commune;code_insee_commune;tri;perimetre_juridique;perimetre_spatial;spatial_perimeter;sub_sector;date_de_mise_en_service_industrielle;puissance_installee;puissance_minimum_de_conception;reserve_secondaire_maximale;unite
        |BELLEVILLE 1;1;Nucleaire;Nuclear;REP;CP1;Uranium;Uranium;47.50,2.87;CVL;24;Cher;18;C;241800374;BELLEVILLE;18026;1;EDF;P;P;REP;1988-06-01;1310;600;;MW
        |BELLEVILLE 1;2;Nucleaire;Nuclear;REP;CP1;Uranium;Uranium;47.50,2.87;CVL;24;Cher;18;C;241800374;BELLEVILLE;18026;2;EDF;P;P;REP;1989-01-01;1310;600;;MW
        |""".stripMargin)
    d
  }

  test("StageDeaths golden: parse, null-date drop, unknown-INSEE drop, dedup") {
    val out = StageDeaths(spark, s"$dir/death_*", s"$dir/city_geo.csv")
    val rows = out.collect()
    assert(rows.length == 1) // 4 input lines -> 1 survivor
    val r = rows.head
    assert(r.getAs[String]("id").length == 40)
    assert(r.getAs[java.sql.Date]("date_of_death").toString == "2022-08-04")
    assert(math.abs(r.getAs[Double]("latitude") - 46.005) < 1e-9)
  }

  test("StagePlants golden: first-wins unit dedup, bad-date drop, tag, union, split coords") {
    val out = StagePlants(spark, s"$dir/thermal.csv", s"$dir/nuclear.csv").collect()
    assert(out.length == 2) // CORDEMAIS (BADDATE dropped), BELLEVILLE 1 (deduped)
    val byName = out.map(r => r.getAs[String]("plant_name") -> r).toMap
    val cord = byName("CORDEMAIS")
    assert(cord.getAs[String]("plant_type") == "THERMAL")
    assert(cord.getAs[String]("fuel_type") == "Coal")
    // first-wins: tranche 4's 1983 date, power 600 (not summed) — SURVEY §7.4.3
    assert(cord.getAs[java.sql.Date]("creation_date").toString == "1983-07-01")
    assert(cord.getAs[Double]("plant_power") == 600.0)
    assert(math.abs(cord.getAs[Double]("longitude") - (-1.88)) < 1e-9)
    val bell = byName("BELLEVILLE 1")
    assert(bell.getAs[String]("plant_type") == "NUCLEAR")
    assert(bell.getAs[java.sql.Date]("creation_date").toString == "1988-06-01")
  }

  test("typed serve layer: Dataset[Death] / Dataset[PowerPlant] round-trip the schemas") {
    val deaths = StageDeaths.typed(spark, s"$dir/death_*", s"$dir/city_geo.csv").collect()
    assert(deaths.length == 1 && deaths.head.latitude == 46.005)
    val plants = StagePlants.typed(spark, s"$dir/thermal.csv", s"$dir/nuclear.csv").collect()
    assert(plants.map(_.plant_type).sorted.toSeq == Seq("NUCLEAR", "THERMAL"))
  }

  test("end-to-end: staged deaths land in a year-partitioned idempotent parquet store") {
    import org.apache.spark.sql.functions._
    val store = tempDir("graft-store").toString + "/deaths"
    def staged = StageDeaths(spark, s"$dir/death_*", s"$dir/city_geo.csv")
      .withColumn("death_year", year(col("date_of_death")).cast("string"))
    val n1 = graft.ops.Sinks.idempotentParquetAppend(spark, staged, store,
      keys = Seq("id"), partitionBy = Seq("death_year"))
    assert(n1 == 1)
    // re-running the whole pipeline against the same store is a no-op
    val n2 = graft.ops.Sinks.idempotentParquetAppend(spark, staged, store,
      keys = Seq("id"), partitionBy = Seq("death_year"))
    assert(n2 == 0)
    val stored = spark.read.parquet(store)
    assert(stored.count() == 1)
    assert(stored.where(col("death_year") === "2022").count() == 1) // partition pruning path
  }

  test("one StageDeaths frame feeds three actions from one read of the corpus, AQE on and off") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // a corpus that dwarfs every other input the actions read: 3,000 lines
    // over 30 names (each name's copies differ in birth year, so the dedup
    // has a survivor to choose), half of them near the Belleville plant
    val d = tempDir("graft-shared")
    (0 until 3).foreach { f =>
      Files.writeString(d.resolve(s"death_$f.txt"), (0 until 1000).map { i =>
        deathLine(f"NAME${i % 30}%02d*SHARED/", f"19${40 + i / 30 % 50}%02d0101", "20220804",
          if (i % 2 == 0) "01007" else "18026")
      }.mkString("\n"))
    }
    Files.writeString(d.resolve("city_geo.csv"),
      """code_commune_INSEE,nom_commune,latitude,longitude
        |01007,AMBRONAY,46.005,5.359
        |18026,BELLEVILLE,47.51,2.87
        |""".stripMargin)
    val corpusBytes = (0 until 3).map(f => Files.size(d.resolve(s"death_$f.txt"))).sum
    val plants = StagePlants(spark, s"$dir/thermal.csv", s"$dir/nuclear.csv")
      .select(col("plant_name"), col("latitude").as("p_lat"), col("longitude").as("p_lon"))
    def perPlant(deaths: DataFrame): Seq[String] =
      graft.ops.Joins.radiusJoin(deaths, plants, deaths("latitude"), deaths("longitude"),
          plants("p_lat"), plants("p_lon"),
          radiusKm = 10.0, latCellDeg = 0.1, lonCellDeg = 0.15, maxAbsLatDeg = 52.0)
        .groupBy(col("plant_name"), year(col("date_of_death")).as("year"))
        .agg(count(lit(1)).as("n")).collect().map(_.toString).sorted.toSeq
    def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytesRead.addAndGet(m.inputMetrics.bytesRead))
    }
    val conf = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val was = conf.map(spark.conf.get)
    try Seq("true", "false").foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val store = tempDir("graft-shared-store").toString + "/deaths"
      def append(deaths: DataFrame): Long =
        graft.ops.Sinks.idempotentParquetAppend(spark,
          deaths.withColumn("death_year", year(col("date_of_death"))), store,
          keys = Seq("id"), partitionBy = Seq("death_year"))
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      bytesRead.set(0L)
      spark.sparkContext.addSparkListener(listener)
      val shared = StageDeaths(spark, s"$d/death_*", s"$d/city_geo.csv")
      val (counts, n1, n2) =
        try (perPlant(shared), append(shared), append(shared))
        finally {
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
          spark.sparkContext.removeSparkListener(listener)
        }
      // the unshared plan re-reads the corpus once per action (3x)
      assert(bytesRead.get >= corpusBytes && bytesRead.get < 2 * corpusBytes,
        s"AQE $aqe: read ${bytesRead.get} bytes for a $corpusBytes-byte corpus")
      val unshared = StageDeaths.plan(spark, s"$d/death_*", s"$d/city_geo.csv")
      assert(counts == perPlant(unshared) && counts.exists(_.startsWith("[BELLEVILLE 1,")))
      assert(rowsOf(shared) == rowsOf(unshared) && unshared.count() == 30)
      assert(n1 == 30 && n2 == 0 && spark.read.parquet(store).count() == 30)
      // the leaf claims its shuffle's hash partitioning only where the RDD
      // is that partitioning (no AQE coalescing); a join on id must agree
      // with the unshared plan at any partition count of the other side
      val claimed = shared.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.outputPartitioning
      }
      assert(claimed.size == 1)
      claimed.head match {
        case h: HashPartitioning =>
          assert(aqe == "false" &&
            h.numPartitions == spark.conf.get("spark.sql.shuffle.partitions").toInt)
        case p => assert(p.isInstanceOf[UnknownPartitioning], s"AQE $aqe: claims $p")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val other = StageDeaths.plan(spark, s"$d/death_*", s"$d/city_geo.csv")
        .select(col("id"), col("date_of_birth").as("dob2"))
      (1 to 7).foreach { n =>
        val o = other.repartition(n, col("id"))
        assert(rowsOf(shared.join(o, "id")) == rowsOf(unshared.join(o, "id")),
          s"AQE $aqe: join on id against $n partitions")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", was(1))
    } finally conf.zip(was).foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
