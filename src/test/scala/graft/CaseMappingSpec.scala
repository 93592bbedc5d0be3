package graft

import org.apache.spark.sql.functions.{col, lower, upper}

/** The engine's session maps case through the JVM, not ICU
  * (`spark.sql.icu.caseMappings.enabled=false`, see [[Graft]]): the
  * two give the same `upper` and `lower` on ASCII and on a fixed
  * non-ASCII sample, in this JVM's locale. A sample on which they
  * differ is listed in [[Differ]] (and in `Graft`'s scaladoc), not
  * dropped. */
class CaseMappingSpec extends SparkSpecBase {

  private val Key = "spark.sql.icu.caseMappings.enabled"

  private val Samples = Seq(
    "page_view", "Click-42 ADD_to_cart", // ASCII
    "Straße STRASSE ß", // sharp s: upper is "SS"
    "ΟΔΥΣΣΕΥΣ Σοφία", // Greek, a final sigma in lower case
    "İstanbul ıi IJ", // dotted capital I, dotless small i
    "Crème Brûlée, Ångström, ÉCOLE, ñandú", // accented Latin
    "漢字かなカナ 한국어") // CJK

  /** Samples on which the ICU and JVM mappings differ. */
  private val Differ = Set.empty[String]

  private def mapped(icu: Boolean): Seq[(String, String, String)] = {
    val s = spark.newSession()
    s.conf.set(Key, icu.toString)
    import s.implicits._
    Samples.toDF("v").repartition(2).select(col("v"), upper(col("v")), lower(col("v"))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)
  }

  test("the engine's session maps case through the JVM") {
    assert(spark.conf.get(Key) == "false")
  }

  test("upper and lower agree with ICU's on ASCII and the non-ASCII samples") {
    val (jvm, icu) = (mapped(icu = false), mapped(icu = true))
    val differ = jvm.zip(icu).collect { case (j, i) if j != i => j._1 }.toSet
    assert(differ == Differ, s"JVM: $jvm\nICU: $icu")
    assert(jvm.find(_._1.startsWith("Straße")).map(_._2).contains("STRASSE STRASSE SS"))
    assert(jvm.find(_._1.startsWith("ΟΔΥΣΣΕΥΣ")).map(_._3).contains("οδυσσευς σοφία"))
  }
}
