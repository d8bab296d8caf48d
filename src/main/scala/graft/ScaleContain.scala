package graft

import java.nio.file.{Files, Paths}

/** Vocabulary-regime scale measurement for the containment pair
  * (VERDICT r15 #2): the classic inverted-index form vs the Bayardo
  * prefix-filtered 100 TB path, WALL TIME and DOCUMENTED COST DRIVER
  * together in one artifact, on a chosen vocabulary regime.
  *
  * Why this exists: r15 measured the pair on the dense 31-word
  * vocabulary — the prefix filter's worst case (every shingle df is
  * huge, candidates exp 2.02, win constant-only) — and the engine's
  * flagship recommendation ("prefix containment is the 100 TB path")
  * rested on a CITED argument about Zipfian corpora, measured nowhere.
  * ScaleGen's zipf regime (10k-word power law, s = 1.07 — the shape of
  * every real corpus) + this runner turn that argument into a curve:
  * gate walls via the UNMODIFIED SparkEntry entries (ScaleCurves'
  * warm-up/min-of-2 discipline, shared code), driver counts via the
  * exact ScaleDrivers expressions the operators run.
  *
  * Usage: ScaleContain <base> <outJson> [vocab=zipf|dense|heaps]
  *        [multiples=1,3,10] [gates]
  * `gates` entries may carry a per-gate multiple cap, e.g.
  * `dedup_containment@3,dedup_containment_prefix` — the classic form
  * SKEWS on Zipfian heads (the z0-z0 posting pairs in ONE task,
  * measured r16), so its top rung can cost more wall than it teaches
  * once the 1×/3× exponent and the Σ C(df,2) driver already pin the
  * verdict. A capped gate's JSON row simply carries fewer wall cells.
  * Slices are generated on demand (documents only — the pair reads
  * nothing else); both compared scales always come from ScaleGen.
  */
object ScaleContain {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val outJson = if (args.length > 1) args(1) else "SCALE_CONTAIN_ZIPF.json"
    val vocab = if (args.length > 2) args(2) else "zipf"
    require(Set("zipf", "dense", "heaps")(vocab), s"vocab=$vocab")
    val ms = (if (args.length > 3) args(3) else "1,3,10")
      .split(",").map(_.trim.toLong).sorted.toSeq
    val gateSpecs: Seq[(String, Seq[Long])] =
      (if (args.length > 4) args(4)
       else "dedup_containment,dedup_containment_prefix")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
          _.split("@") match {
            case Array(n) => n -> ms
            case Array(n, cap) => n -> ms.filter(_ <= cap.toLong)
          }
        }

    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionConf = SessionConf.applyEnv(spark)

    val genTable = vocab match {
      case "zipf" => "zipfdocs"
      case "heaps" => "heapsdocs"
      case _ => "documents"
    }
    val dirs: Map[Long, String] = ms.map { m =>
      val dir = s"$base/scale${m}x"
      if (!Files.exists(Paths.get(s"$dir/documents.parquet")))
        ScaleGen.generate(spark, base, m, Set(genTable))
      m -> dir
    }.toMap

    // driver counts first — cheap next to the classic walls, and they
    // are the claim under test (sub-quadratic candidate growth)
    val driverRows: Seq[(Long, Long, Long)] = ms.map { m =>
      val docs = Tables.load(spark, dirs(m), "documents")
      val np = ScaleDrivers.ngramIndexPairs(docs)
      val pc = ScaleDrivers.prefixCandidates(docs)
      println(s"[scalecontain] drivers @ ${m}x: ngram_index_pairs=$np " +
        s"containment_prefix_candidates=$pc")
      (m, np, pc)
    }

    val results = gateSpecs.flatMap { case (g, gm) =>
      ScaleCurves.timeGates(spark, Seq(g), gm, dirs)
    }

    val gateJson = results.map { case (g, ts) =>
      val walls = ts.map { case (m, t) => s""""${m}x":${Jsons.num(t, 3)}""" }
        .mkString("{", ",", "}")
      s"""${Jsons.jq(g)}:{"wall_s":$walls,${ScaleCurves.expFields(ts)}}"""
    }
    val driverJson = Seq(
      ("ngram_index_pairs", driverRows.map(r => (r._1, r._2.toDouble))),
      ("containment_prefix_candidates", driverRows.map(r => (r._1, r._3.toDouble)))
    ).map { case (name, pts) =>
      val counts = pts.map { case (m, v) => s""""${m}x":${v.toLong}""" }
        .mkString("{", ",", "}")
      s"""${Jsons.jq(name)}:{"count":$counts,${ScaleCurves.expFields(pts)}}"""
    }
    val json = s"""{"metric":"scale_contain","vocab":${Jsons.jq(vocab)},""" +
      s""""multiples":[${ms.mkString(",")}],"base":${Jsons.jq(base)},""" +
      s""""session_conf":${Jsons.conf(sessionConf)},""" +
      s""""gates":{${gateJson.mkString(",")}},""" +
      s""""drivers":{${driverJson.mkString(",")}}}"""
    println(json)
    Files.write(Paths.get(outJson), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
