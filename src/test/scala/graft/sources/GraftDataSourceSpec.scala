package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Versioned

class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String = {
    val p = s"target/tmp/gds-$tag"
    Versioned.drop(spark, p)
    p
  }

  /** Three key-clustered commits (k in [0,100), [100,200), [200,300))
    * so the commit-time zone maps are selective per file. */
  private def clusteredTable(tag: String): String = {
    val p = freshPath(tag)
    (0 until 3).foreach { b =>
      Versioned.append(
        (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"s$i", i * 2))
          .toDF("k", "s", "x").coalesce(1), p)
    }
    p
  }

  private def scanOf(df: DataFrame): FileScan =
    (df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.getOrElse(fail("no V2 BatchScan in plan:\n" +
      df.queryExecution.executedPlan)) match {
      case g: GraftScan => g.inner // batch face of the wrapping scan
      case s => s
    }).asInstanceOf[FileScan]

  test("format(\"graft\") resolves by short name; default read == " +
      "latest asOf; versionAsOf and timestampAsOf time-travel") {
    val p = clusteredTable("tt")
    def viaV2(opts: (String, String)*): DataFrame =
      opts.foldLeft(spark.read.format("graft"))((r, o) =>
        r.option(o._1, o._2)).load(p)
    assert(viaV2().count() == 300)
    assert(viaV2("versionAsOf" -> "2").count() == 200)
    // row-for-row equal to the Scala asOf slice, meta columns included
    val api = Versioned.asOf(spark, p, 2)
    assert(viaV2("versionAsOf" -> "2").columns.sorted.toSeq ==
      api.columns.sorted.toSeq)
    assert(viaV2("versionAsOf" -> "2")
      .select("k", "s", "x", Versioned.VersionCol)
      .collect().map(_.toSeq).toSet ==
      api.select("k", "s", "x", Versioned.VersionCol)
        .collect().map(_.toSeq).toSet)
    // timestamp travel through the commit _TS_ stamps
    val t2 = Versioned.commitTimes(spark, p)(2)
    assert(viaV2("timestampAsOf" -> t2.toString).count() == 200)
    intercept[IllegalArgumentException] {
      viaV2("versionAsOf" -> "1", "timestampAsOf" -> "0").count()
    }
  }

  test("pushdown reaches the file-skipping layer: an equality bound " +
      "opens one clustered file, the pushed filter reaches the " +
      "parquet scan, pruning never drops rows") {
    val p = clusteredTable("prune")
    val all = scanOf(spark.read.format("graft").load(p))
      .fileIndex.inputFiles.length
    assert(all == 3, s"expected 3 clustered files, got $all")
    val q = spark.read.format("graft").load(p).filter(col("k") === 150L)
    val scan = scanOf(q)
    assert(scan.fileIndex.inputFiles.length == 1,
      s"zone maps should prune to 1 file, got " +
        s"${scan.fileIndex.inputFiles.mkString(", ")}")
    assert(scan.fileIndex.inputFiles.head.contains("v=2"),
      "the surviving file must be the matching commit's")
    // the filter is ALSO pushed into the parquet scan (row groups)
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(scanOf(q).asInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
      .pushedFilters.exists(_.references.contains("k")))
    assert(q.collect().map(r => r.getAs[Long]("k")).toSeq == Seq(150L))
    // a range bound prunes to the covering commits
    val r = spark.read.format("graft").load(p)
      .filter(col("k") >= 50L && col("k") <= 150L)
    assert(scanOf(r).fileIndex.inputFiles.length == 2)
    assert(r.count() == 101)
    // an unpruned-type predicate keeps every file and still filters
    val s = spark.read.format("graft").load(p)
      .filter(length(col("s")) === 2)  // no zone-map language for this
    assert(scanOf(s).fileIndex.inputFiles.length == 3)
    assert(s.count() == 10)
  }

  test("aggregate pushdown: no-filter count/min/max answered from " +
      "_STATS metadata with no file scan; filters, strings, " +
      "unsupported functions, group-bys, and stats gaps decline " +
      "to the ordinary scan") {
    val p = clusteredTable("agg")
    val q = spark.read.format("graft").load(p)
      .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"),
        min("x").as("xmn"), max("x").as("xmx"))
    // plan-string assertions survive AQE wrapping (collect() does not
    // traverse into AdaptiveSparkPlanExec)
    val qPlan = q.queryExecution.executedPlan.toString
    assert(qPlan.contains("metadata-only aggregate"), qPlan)
    assert(!qPlan.contains("Parquet"),
      "no parquet scan may appear in a completely-pushed plan:\n" + qPlan)
    val row = q.collect().head
    assert(row.getAs[Long]("n") == 300L)
    assert(row.getAs[Long]("mn") == 0L && row.getAs[Long]("mx") == 299L)
    // IntegerType column narrows back to int
    assert(row.getAs[Int]("xmn") == 0 && row.getAs[Int]("xmx") == 598)

    def fellBack(df: DataFrame): Boolean =
      !df.queryExecution.executedPlan.toString
        .contains("metadata-only aggregate")
    // a residual filter declines (zone maps say "maybe", not "count")
    val f = spark.read.format("graft").load(p).filter(col("k") > 10L)
      .agg(count(lit(1)).as("n"))
    assert(fellBack(f) && f.collect().head.getAs[Long]("n") == 289L)
    // string min/max declines (footer stats may be truncated bounds)
    val s = spark.read.format("graft").load(p).agg(min("s").as("m"))
    assert(fellBack(s) && s.collect().head.getAs[String]("m") == "s0")
    // unsupported aggregate declines
    val a = spark.read.format("graft").load(p).agg(avg("k").as("m"))
    assert(fellBack(a) && a.collect().head.getAs[Double]("m") == 149.5)
    // group-by declines (per-group counts need the rows)
    val g = spark.read.format("graft").load(p).groupBy("s").count()
    assert(fellBack(g) && g.count() == 300L)
    // a stats gap in ONE dir declines the whole pushdown, answer
    // unchanged — pruning may drop work, never change answers
    assert(new java.io.File(s"$p/v=2/_STATS.tsv").delete())
    val gap = spark.read.format("graft").load(p).agg(count(lit(1)).as("n"))
    assert(fellBack(gap) && gap.collect().head.getAs[Long]("n") == 300L)
  }

  test("runtime filtering: a broadcast dim join prunes fact files " +
      "at runtime through the zone maps — DPP without partitions") {
    val p = clusteredTable("dpp")
    val fact = spark.read.format("graft").load(p)
    // the DPP planner needs a SELECTIVE predicate that survives
    // optimization on the dim side — a LocalRelation constant-folds
    // its filter away, so the dim comes off parquet; keys 42 and 255
    // land in two of the three clustered files — per-value pruning
    // must keep exactly those two
    val dimPath = "target/tmp/gds-dpp-dim"
    Seq((42L, "a"), (255L, "b"), (999L, "z")).toDF("dk", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") =!= "z")
    val j = fact.join(broadcast(dim), col("k") === col("dk"))
      .select("k", "s", "tag")
    val rows = j.collect()
    assert(rows.map(_.getAs[Long]("k")).sorted.toSeq == Seq(42L, 255L))
    val b = graft.obs.Plans.nodes(j.queryExecution.executedPlan).collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
    }.getOrElse(fail("no graft BatchScan in final plan:\n" +
      j.queryExecution.executedPlan))
    assert(b.runtimeFilters.nonEmpty,
      "expected a dynamic-pruning runtime filter on the fact scan")
    val files = b.scan.asInstanceOf[GraftScan].inner
      .asInstanceOf[FileScan].fileIndex.inputFiles
    assert(files.length == 2,
      s"runtime prune should keep the 2 covering files, got:\n" +
        files.mkString("\n"))
    assert(files.exists(_.contains("v=1")) && files.exists(_.contains("v=3")),
      "the surviving files must be the key-covering commits'")
  }

  test("limit pushdown: LIMIT k keeps a file prefix covering k rows " +
      "by __nrows; never under-delivers; filtered limits decline") {
    val p = clusteredTable("lim") // 3 files x 100 rows
    val q = spark.read.format("graft").load(p).limit(150)
    assert(scanOf(q).fileIndex.inputFiles.length == 2,
      "150 rows need the 2-file prefix (100+100)")
    assert(q.collect().length == 150)
    // limit beyond the table keeps everything and delivers everything
    val over = spark.read.format("graft").load(p).limit(500)
    assert(scanOf(over).fileIndex.inputFiles.length == 3)
    assert(over.collect().length == 300)
    // a filter below the limit declines the prefix (a filtered prefix
    // could under-deliver); zone maps still prune on the filter
    val f = spark.read.format("graft").load(p)
      .filter(col("k") >= 100L).limit(5)
    assert(scanOf(f).fileIndex.inputFiles.length == 2,
      "zone maps prune to the 2 matching files; the limit must not " +
        "shrink them further")
    assert(f.collect().length == 5)
  }

  test("V2 string zone pruning compares in unsigned UTF-8 byte order: " +
      "pushed predicates, IN envelopes, and runtime IN-sets never prune " +
      "a file holding a key between U+E000 and a supplementary-plane " +
      "bound (UTF-16 order would)") {
    val p = freshPath("utf8v2")
    val supp = new String(Character.toChars(0x10000)) // U+10000
    // three single-key clustered files: EE.., EF.., F0.. in UTF-8 byte
    // order — but the supplementary key LEADS in UTF-16 order (its
    // surrogate 0xD800 sorts below everything here)
    val k1 = "a"; val k2 = ""; val k3 = supp + "b"
    Seq(k1, k2, k3).zipWithIndex.foreach { case (k, i) =>
      Versioned.append(Seq((k, i.toLong)).toDF("k", "x").coalesce(1), p)
    }
    def read = spark.read.format("graft").load(p)
    // pushed equality: k2 sits between min EE.. and max F0.. in UTF-8
    // order but ABOVE the surrogate-led k3 in UTF-16 order — a UTF-16
    // statsMayMatch concludes lo > max and silently drops the row
    val eq = read.filter(col("k") === k2)
    assert(scanOf(eq).fileIndex.inputFiles.length == 1,
      "equality must keep exactly the covering file")
    assert(eq.select("x").as[Long].collect().toSeq == Seq(1L),
      "pushed string equality lost the row to UTF-16-order pruning")
    // pushed range with a supplementary-plane upper bound
    val rg = read.filter(col("k") >= k2 && col("k") <= k3)
    assert(rg.select("x").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // static IN with a mixed-plane literal set: the [min,max] envelope
    // must be built in byte order — a UTF-16 sort inverts it (lo > hi
    // in byte terms) and prunes every file
    val in = read.filter(col("k").isin(k1, k2, k3))
    assert(in.select("x").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L), "IN envelope inverted by UTF-16 sort")
    // the DPP runtime IN-set consumer (per-value exact)
    val vs = Versioned.versions(spark, p)
    val kept = Versioned.pruneFilesForInSets(spark, p, vs,
      Seq(("k", Seq(k2: Any))))
    assert(kept.length == 1 && kept.head.contains("v=2"),
      s"runtime IN-set must keep exactly k2's file, got $kept")
    // and pruning still prunes: a bound above every max keeps nothing
    assert(Versioned.pruneFilesForBounds(spark, p, vs,
      Seq(("k", Some(new String(Character.toChars(0x10FFFF)): Any),
        None))).isEmpty)
  }

  test("the scan reports an EXACT numRows statistic from commit " +
      "metadata (sharper optimizer estimates for free)") {
    val p = clusteredTable("nstat")
    val df = spark.read.format("graft").load(p)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan }.get
    val st = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(st.numRows().isPresent && st.numRows().getAsLong == 300L)
    assert(st.sizeInBytes().isPresent && st.sizeInBytes().getAsLong > 0)
  }

  test("column pruning reaches ReadSchema; schema stays pinned when " +
      "pruning drops a schema-evolution commit's files") {
    val p = freshPath("evolve")
    Versioned.append((0 until 100).map(i => (i.toLong, s"s$i"))
      .toDF("k", "s").coalesce(1), p)
    Versioned.append((100 until 200).map(i => (i.toLong, s"s$i", i * 1.5))
      .toDF("k", "s", "extra").coalesce(1), p)
    val q = spark.read.format("graft").load(p).select("k", "extra")
    val rs = scanOf(q).readSchema().fieldNames.toSet
    assert(rs == Set("k", "extra"), s"ReadSchema not pruned: $rs")
    // prune away the v2 files (the only ones carrying `extra`): the
    // column must survive as null, not vanish from the schema
    val old = spark.read.format("graft").load(p)
      .filter(col("k") < 50L).select("k", "extra")
    assert(scanOf(old).fileIndex.inputFiles.forall(_.contains("v=1")))
    assert(old.count() == 50 &&
      old.filter(col("extra").isNull).count() == 50)
  }

  test("currentOf over the V2 read == the Scala current resolve " +
      "(upserts, tombstones, checkpoint exclusion)") {
    val p = freshPath("resolve")
    Versioned.append(Seq((1L, 10), (2L, 20), (3L, 30)).toDF("k", "x"), p)
    Versioned.append(Seq((2L, 99)).toDF("k", "x"), p)
    Versioned.delete(Seq(Tuple1(3L)).toDF("k"), p)
    Versioned.compact(spark, p, "k") // checkpoint — V2 read must skip it
    val raw = spark.read.format("graft").load(p)
    val viaV2 = Versioned.currentOf(raw, "k")
      .select("k", "x").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaV2 == Map(1L -> 10, 2L -> 99))
    val api = Versioned.current(spark, p, "k")
      .select("k", "x").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaV2 == api)
  }

  test("V2 streaming source: commit-version offsets, checkpoint " +
      "exclusion at planning, exactly-once resume from the sink " +
      "checkpoint, vacuum-horizon refusal") {
    import spark.implicits._
    val p = freshPath("stream-src")
    val sink = "target/tmp/gds-stream-sink"
    val ckpt = "target/tmp/gds-stream-ckpt"
    Seq(sink, ckpt).foreach { d =>
      val hp = new org.apache.hadoop.fs.Path(d)
      val hf = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (hf.exists(hp)) hf.delete(hp, true)
    }
    Versioned.append((0 until 10).map(i => (i.toLong, i)).toDF("k", "x"), p)
    Versioned.append((10 until 15).map(i => (i.toLong, i)).toDF("k", "x"), p)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").load(p)
        .select("k", "x", Versioned.VersionCol)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    def sunk() = spark.read.parquet(sink)
    assert(sunk().count() == 15)
    // a compact CHECKPOINT must not re-deliver (excluded at planning)
    Versioned.compact(spark, p, "k")
    runOnce()
    assert(sunk().count() == 15)
    // new commits resume from the recorded version offset, once each
    Versioned.append(Seq((100L, 100)).toDF("k", "x"), p)
    runOnce()
    assert(sunk().count() == 16)
    assert(sunk().groupBy("k").count().filter(col("count") > 1).count()
      == 0, "a version was re-delivered")
    assert(sunk().select(Versioned.VersionCol).distinct().count() == 3,
      "three non-checkpoint versions should have streamed")
    // resuming past the vacuum horizon refuses loudly
    Versioned.vacuum(spark, p, 0)
    intercept[IllegalArgumentException] {
      Versioned.streamSlice(spark, p, fromV = 1,
        toV = Versioned.latestVersion(spark, p))
    }
    // a FRESH stream on the vacuumed table re-delivers the base
    // checkpoint as its initial load (current state, not nothing)
    val fresh = Versioned.streamSlice(spark, p, fromV = 0,
      toV = Versioned.latestVersion(spark, p))
    assert(fresh.nonEmpty)
  }

  test("maxVersionsPerTrigger: backfill proceeds as bounded epochs " +
      "(one version per batch), totals unchanged; a vacuumed table's " +
      "first batch admits up to the base checkpoint (the floor)") {
    import spark.implicits._
    val p = freshPath("ratelimit")
    (0 until 3).foreach { b =>
      Versioned.append(
        (b * 10 until (b + 1) * 10).map(i => (i.toLong, i)).toDF("k", "x"),
        p)
    }
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Seq[Int])]
    def drain(ckptTag: String, opts: (String, String)*): Unit = {
      batches.clear()
      val ckpt = freshPath(s"ratelimit-ckpt-$ckptTag")
      val q = opts.foldLeft(
          spark.readStream.format("graft"))((r, o) => r.option(o._1, o._2))
        .load(p)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          val vs = df.select(Versioned.VersionCol).distinct()
            .collect().map(_.getInt(0)).toSeq.sorted
          batches.add((id, df.count(), vs)); ()
        }
        .start()
      q.awaitTermination()
    }
    // uncapped: the whole backfill is ONE epoch
    drain("all")
    assert(batches.size() == 1 &&
      batches.peek()._2 == 30 && batches.peek()._3 == Seq(1, 2, 3))
    // capped at 1 version/trigger: three bounded epochs, same totals,
    // monotonic non-overlapping version ranges
    drain("one", "maxVersionsPerTrigger" -> "1")
    val eps = batches.iterator().asScala.toSeq.sortBy(_._1)
    assert(eps.map(_._3) == Seq(Seq(1), Seq(2), Seq(3)),
      s"expected one version per epoch, got ${eps.map(_._3)}")
    assert(eps.map(_._2).sum == 30)
    // capped at 2: ceil(3/2) epochs
    drain("two", "maxVersionsPerTrigger" -> "2")
    val eps2 = batches.iterator().asScala.toSeq.sortBy(_._1)
    assert(eps2.map(_._3) == Seq(Seq(1, 2), Seq(3)))
    // vacuum floor: base checkpoint (indivisible) + later commits
    Versioned.compact(spark, p, "k")       // checkpoint at v=4
    Versioned.vacuum(spark, p, 0)          // reclaim v=1..3
    Versioned.append(Seq((100L, 100)).toDF("k", "x"), p) // v=5
    Versioned.append(Seq((101L, 101)).toDF("k", "x"), p) // v=6
    drain("vac", "maxVersionsPerTrigger" -> "1")
    val eps3 = batches.iterator().asScala.toSeq.sortBy(_._1)
    assert(eps3.head._3 == Seq(4) && eps3.head._2 == 30,
      s"first epoch must be the whole vacuum base, got ${eps3.head}")
    assert(eps3.map(_._3) == Seq(Seq(4), Seq(5), Seq(6)))
    assert(eps3.map(_._2).sum == 32)
    intercept[IllegalArgumentException] {
      GraftDataSource.maxVersionsOf(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("maxVersionsPerTrigger", "0")))
    }

    // BYTE-budget admission on the same table: a 1-byte budget still
    // admits one version per epoch (progress guarantee), a huge
    // budget is one epoch, and composed caps bind at the tighter one
    drain("b1", "maxBytesPerTrigger" -> "1")
    val epsB = batches.iterator().asScala.toSeq.sortBy(_._1)
    assert(epsB.head._3 == Seq(4),
      "the vacuum-base floor admits regardless of budget")
    assert(epsB.map(_._3) == Seq(Seq(4), Seq(5), Seq(6)))
    assert(epsB.map(_._2).sum == 32)
    drain("bbig", "maxBytesPerTrigger" -> (1L << 40).toString)
    assert(batches.size() == 1)
    drain("combo", "maxVersionsPerTrigger" -> "2",
      "maxBytesPerTrigger" -> "1")
    val epsC = batches.iterator().asScala.toSeq.sortBy(_._1)
    assert(epsC.map(_._3) == Seq(Seq(4), Seq(5), Seq(6)),
      s"the tighter (byte) cap must bind, got ${epsC.map(_._3)}")
    intercept[IllegalArgumentException] {
      GraftDataSource.maxBytesOf(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("maxBytesPerTrigger", "0")))
    }

    // startingVersion: a fresh stream skips the backfill below it;
    // 'latest' delivers nothing until a NEW commit lands
    drain("sv", "startingVersion" -> "6")
    val epsS = batches.iterator().asScala.toSeq.sortBy(_._1)
    assert(epsS.map(_._3) == Seq(Seq(6)) && epsS.map(_._2).sum == 1,
      s"startingVersion=6 must deliver exactly v6, got $epsS")
    // 'latest' = only commits AFTER stream start: an AvailableNow
    // drain (head pinned at start) must deliver nothing that exists
    drain("svl", "startingVersion" -> "latest")
    assert(batches.iterator().asScala.toSeq.forall(_._2 == 0),
      "startingVersion=latest must skip everything already committed")
  }

  test("column mapping through the V2 face: logical names over " +
      "unrewritten physical files, zone maps still prune on a " +
      "renamed column, drop+re-add never resurrects bytes, a mapped " +
      "table streams") {
    import spark.implicits._
    val p = clusteredTable("colmap") // k clustered per commit, 3 files
    Versioned.renameColumn(spark, p, "k", "id")
    Versioned.renameColumn(spark, p, "x", "score")
    // logical schema out, physical files untouched
    val df = spark.read.format("graft").load(p)
    assert(df.columns.take(3).toSeq == Seq("id", "s", "score"))
    assert(df.filter(col("id") === 150L).select("score")
      .as[Int].collect().toSeq == Seq(300))
    // zone maps prune on the RENAMED column (stats are keyed by the
    // stable physical name; the bound is translated on the way in)
    val q = spark.read.format("graft").load(p).filter(col("id") === 150L)
    assert(scanOf(q).fileIndex.inputFiles.length == 1,
      s"zone maps should prune to 1 file on the renamed column, got " +
        s"${scanOf(q).fileIndex.inputFiles.mkString(", ")}")
    // pushed filter reaches the parquet scan under the PHYSICAL name
    assert(scanOf(q).asInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
      .pushedFilters.exists(_.references.contains("k")))
    // metadata aggregate pushdown translates the RENAMED column to its
    // physical stats key: count/min/max answered with no file opened
    val ag = spark.read.format("graft").load(p)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
        max(col("id")).as("mx"))
    val agPlan = ag.queryExecution.executedPlan.toString
    assert(agPlan.contains("metadata-only aggregate"), agPlan)
    assert(ag.as[(Long, Long, Long)].head() == ((300L, 0L, 299L)))
    // drop then re-add the same logical name: fresh physical id, the
    // dropped bytes stay dead (old rows read null, new rows read data)
    Versioned.dropColumn(spark, p, "score")
    assert(spark.read.format("graft").load(p).columns.take(2).toSeq ==
      Seq("id", "s"))
    Versioned.append(Seq((1000L, "fresh", 42)).toDF("id", "s", "score"), p)
    val re = spark.read.format("graft").load(p)
    assert(re.filter(col("id") === 1000L).select("score")
      .as[Int].collect().toSeq == Seq(42))
    assert(re.filter(col("id") === 150L).select("score")
      .collect().head.isNullAt(0),
      "dropped bytes must not resurrect under the re-added name")
    // a mapped table streams, logical names in every micro-batch
    val ckpt = freshPath("colmap-ckpt")
    val got = new java.util.concurrent.atomic.AtomicLong
    val sq = spark.readStream.format("graft").load(p)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (bdf: DataFrame, _: Long) =>
        assert(bdf.columns.take(2).toSeq == Seq("id", "s"))
        got.addAndGet(bdf.count()); ()
      }
      .start()
    sq.awaitTermination()
    assert(got.get() == 301)
  }

  test("a WIDENED table streams: narrow pre-widen files upcast in " +
      "every micro-batch, values beyond int range intact") {
    import spark.implicits._
    val p = freshPath("widenstream")
    Versioned.append(Seq((1L, 10), (2L, 20)).toDF("k", "x"), p) // INT
    Versioned.widenColumn(spark, p, "x", "long")
    Versioned.append(Seq((3L, 5000000000L)).toDF("k", "x"), p)  // LONG
    val ckpt = freshPath("widenstream-ckpt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val sq = spark.readStream.format("graft").load(p)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (bdf: DataFrame, _: Long) =>
        assert(bdf.schema("x").dataType ==
          org.apache.spark.sql.types.LongType)
        bdf.select("k", "x").as[(Long, Long)].collect()
          .foreach(seen.add); ()
      }
      .start()
    sq.awaitTermination()
    assert(seen.asScala.toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 5000000000L)))
  }
}
