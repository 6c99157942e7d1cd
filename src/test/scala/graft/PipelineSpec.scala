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
}
