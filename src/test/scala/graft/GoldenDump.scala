package graft

/** Regenerates the QueriesSpec content-hash goldens (run via
  * `sbt "Test/runMain graft.GoldenDump"`) after an INTENTIONAL semantic
  * change to a no-oracle query. The hash format must stay byte-identical
  * to QueriesSpec.contentHash.
  */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    // the same local[4] session QueriesSpec hashes under
    val spark = SparkSpec.spark
    val names = Seq("q34_matching_pipeline", "q35_stable_matching",
      "q38_multimodal_features", "q47_ensemble_pipeline", "q48_icl_pipeline")
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1"); n <- names) {
      val df = SparkEntry.queries(n)(spark, sf)
      val body = df.collect()
        .map(_.toSeq.map(String.valueOf).mkString("")).mkString("\n")
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
      println(s"""GOLDEN "$n@$sf" -> "$h",""")
    }
    val q47 = SparkEntry.queries("q47_ensemble_pipeline")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"GOLDEN q47 counts: $q47")
  }
}
