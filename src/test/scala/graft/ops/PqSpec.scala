package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** IVFADC end-to-end contracts (q137/q138): the compressed pipeline is
  * deterministic, its shortlist re-rank recovers most of the exact
  * top-k despite scoring candidates from 8 small codes instead of 64
  * doubles, and the code table is complete (every vector gets exactly
  * m codes in [0, k)). */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("pqCodes: m codes per vector, all in range, deterministic") {
    val rows = Similarity.pqCodes(spark, dir, m = 8, k = 64, nRows = 100).collect()
    assert(rows.length == 100 * 8)
    assert(rows.forall { r =>
      val c = r.getAs[Long]("code"); c >= 0 && c < 64
    })
    val again = Similarity.pqCodes(spark, dir, m = 8, k = 64, nRows = 100).collect()
    assert(rows.sameElements(again))
  }

  test("a saved PQ index answers identically to the live IVFADC stage") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-test").toString
    try {
      Similarity.savePqIndex(spark, dir, tmp)
      val live = Similarity.pqAdcTopK(spark, dir, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      val loaded = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      assert(live.nonEmpty && live == loaded,
        "persisted-PQ answers diverged from the live stage")
      // the compression claim at this config: the codes inverted file is
      // an order of magnitude smaller than the exact vectors store
      def bytes(sub: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
          else f.length()
        walk(new java.io.File(s"$tmp/$sub"))
      }
      val (codes, vectors) = (bytes("codes"), bytes("vectors"))
      assert(codes * 3 < vectors,
        s"codes file ($codes B) not meaningfully smaller than vectors ($vectors B)")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("warm PQ serving loads the artifact once and answers like the cold path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-warm").toString
    try {
      Similarity.savePqIndex(spark, dir, tmp)
      // cold-start purity: every relation read straight off the
      // artifact, nothing resident — the restarted-service contract
      val cold = Similarity.pqTopKFromIndexCold(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      val before = Similarity.pqLoadedRelBuilds.get()
      val warm1 = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      val afterFirst = Similarity.pqLoadedRelBuilds.get()
      val warm2 = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      val afterSecond = Similarity.pqLoadedRelBuilds.get()
      assert(cold.nonEmpty && cold == warm1 && warm1 == warm2,
        "warm serving diverged from the cold artifact read")
      assert(afterFirst - before == 4,
        s"first warm call must load exactly the 4 artifact relations, " +
          s"loaded ${afterFirst - before}")
      assert(afterSecond == afterFirst,
        "the second warm call re-loaded the artifact instead of serving resident")
    } finally {
      Similarity.releaseStages(spark)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("a replayed PQ delta merge is a no-op") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-replay").toString
    try {
      val e = Similarity.unitEmbeddings(spark, dir)
        .withColumn("incoming",
          pmod(col("vec_id") * lit(2654435761L), lit(100)) < 30)
      Similarity.savePqIndexOf(
        e.where(!col("incoming")).select("vec_id", "u"), tmp)
      val delta = e.where(col("incoming")).select("vec_id", "u")
      Similarity.appendPqDelta(delta, tmp)
      val codes1 = IdStore.latest(spark, tmp).read(spark, "codes").count()
      val vecs1 = IdStore.latest(spark, tmp).read(spark, "vectors").count()
      val answers1 = Similarity.pqTopKFromIndexCold(spark, tmp, nQueries = 30)
        .collect().map(_.toSeq).toSeq
      // the retry a production ingest eventually does: same batch again
      Similarity.appendPqDelta(delta, tmp)
      assert(IdStore.latest(spark, tmp).read(spark, "codes").count() == codes1,
        "a replayed merge double-wrote codes")
      assert(IdStore.latest(spark, tmp).read(spark, "vectors").count() == vecs1,
        "a replayed merge double-wrote the refine store")
      val answers2 = Similarity.pqTopKFromIndexCold(spark, tmp, nQueries = 30)
        .collect().map(_.toSeq).toSeq
      assert(answers1.nonEmpty && answers1 == answers2,
        "a replayed merge changed the served answers")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("tombstones appended AFTER the warm cache loaded still apply at serve time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-tomb").toString
    try {
      import spark.implicits._
      Similarity.savePqIndex(spark, dir, tmp)
      // warm the loaded-relation cache first — the anti-join must read
      // tombstones per serve, not bake them into the cached load
      val before = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50).collect()
      assert(before.nonEmpty)
      // kill a vector that actually appears as a neighbor, plus a query
      val dead = Seq(before.head.getLong(1), 7L)
      Similarity.tombstoneVectors(dead.toDF("vec_id"), tmp)
      val after = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50).collect()
      assert(after.nonEmpty)
      val deadSet = dead.toSet
      assert(after.forall(r => !deadSet.contains(r.getLong(0)) &&
        !deadSet.contains(r.getLong(1))),
        "a tombstoned vector queried or surfaced after deletion")
      assert(!before.map(_.toSeq).sameElements(after.map(_.toSeq)),
        "the delete set must actually change the served answers")
    } finally {
      Similarity.releaseStages(spark)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("compacting under a warm cache invalidates it — dead vectors stay dead") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-compact").toString
    try {
      import spark.implicits._
      Similarity.savePqIndex(spark, dir, tmp)
      val warm0 = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50).collect()
      val dead = Seq(warm0.head.getLong(1), 7L)
      Similarity.tombstoneVectors(dead.toDF("vec_id"), tmp)
      // warm serve WITH the anti-join (tombstones present, cache resident)
      val served = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      Similarity.compactPqIndex(spark, tmp)
      assert(!IdStore.latest(spark, tmp).has("tombstones"),
        "compaction must delete the tombstone set")
      // the hazard this pins: without cache invalidation the resident
      // pre-compaction codes relation + the now-absent tombstone file
      // would re-serve the dead rows
      val compacted = Similarity.pqTopKFromIndex(spark, tmp, nQueries = 50)
        .collect().map(_.toSeq).toSeq
      assert(compacted.nonEmpty && compacted == served,
        "post-compaction serving diverged from the anti-join serving")
      val deadSet = dead.toSet
      assert(compacted.forall(r => !deadSet.contains(r.head.asInstanceOf[Long]) &&
        !deadSet.contains(r(1).asInstanceOf[Long])),
        "a dead vector resurfaced after compaction under a warm cache")
      assert(IdStore.latest(spark, tmp).read(spark, "vectors")
        .where(org.apache.spark.sql.functions.col("vec_id").isin(dead: _*)).count() == 0,
        "dead vectors survived in the refine store")
    } finally {
      Similarity.releaseStages(spark)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("IVFADC + exact re-rank recovers the probed exact top-k") {
    // the honest comparison is against the EXACT probe over the same
    // probed cells (q129's result): ADC only reorders candidates WITHIN
    // the probed lists, so with a 16-deep shortlist the re-ranked top-3
    // should recover nearly all of it — losses are pure quantization
    val exact2L = Similarity.twoLevelIvfTopK(spark, dir, nCoarse = 8, nSub = 4,
      nProbe1 = 4, nProbe2 = 2, nQueries = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.pqAdcTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adc.nonEmpty)
    val recall = (exact2L & adc).size.toDouble / exact2L.size
    assert(recall >= 0.8,
      f"IVFADC re-rank recall vs the exact probe fell to $recall%.2f")
  }

  test("the PQ append replay guard prunes the refine store to the delta's id buckets") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-guardprune").toString
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    try {
      Similarity.savePqIndexOf(Similarity.unitEmbeddings(spark, dir), tmp)
      val delta = Similarity.unitEmbeddings(spark, dir).where(col("vec_id") === 0L)
      val guarded = delta.join(
        Similarity.pqStore.heldIds(spark, tmp, delta),
        Seq("vec_id"), "left_semi")
      assert(guarded.count() == 1, "the guard scan missed a held vec_id")
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        self ++ kids.flatMap(scansOf)
      }
      val vecScans = scansOf(guarded.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
      assert(vecScans.nonEmpty, "no refine-store scan in the guard plan")
      val readParts = vecScans.map(_.selectedPartitions.partitionCount).max
      val allDirs = new java.io.File(s"$tmp/vectors").listFiles()
        .count(_.getName.startsWith("id_bucket="))
      assert(readParts == 1,
        s"a 1-vector delta must read exactly its own id bucket, read $readParts")
      assert(readParts < allDirs, "the guard's static partition filter vanished")
    } finally rmrf(new java.io.File(tmp))
  }

  test("q173: drift maintenance retrains; the serve equals the fresh full-corpus build") {
    // the gate's own requires already pin "one rebuild, then stable";
    // this pins the ANSWER: retrain-and-re-encode over the live set is
    // the deterministic full base build, so the drifted-then-maintained
    // artifact must serve exactly what the fresh q139 artifact serves
    val retrained = Similarity.pqTopKRetrained(spark, dir)
      .collect().map(_.toString).toSeq
    val fresh = Similarity.pqTopKPersisted(spark, dir)
      .collect().map(_.toString).toSeq
    assert(retrained.nonEmpty && retrained == fresh,
      "the retrained artifact diverged from the fresh full-corpus build")
  }

  test("the explained-energy probe trips on distribution drift at constant size") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-drift").toString
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    try {
      // base: 8 perfect clusters on basis dims 0..7 — the trained
      // geometry explains ALL of their energy (frozen ≈ 1e6 micros)
      def oneHots(from: Int, until: Int, dimOf: String) =
        spark.range(from, until).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, 63), i -> " +
            s"cast(if(i = $dimOf, 1.0, 0.0) as double))").as("u"))
      Similarity.savePqIndexOf(oneHots(0, 200, "pmod(vec_id, 8)"), tmp)
      // drift: the SAME row count again (growth trigger stays silent at
      // 2×-exclusive? no — keep it strictly under: 199 rows), but every
      // vector lives on dims 32..39, orthogonal to the frozen geometry:
      // explained energy for the appended half is exactly 0, so the
      // live mean collapses to ~0.5e6 — a ≥1.5× decay
      Similarity.appendPqDelta(oneHots(200, 399, "32 + pmod(vec_id, 8)"), tmp)
      val live = IdStore.latest(spark, tmp).read(spark, "codes").count()
      val trained = IdStore.latest(spark, tmp).read(spark, "meta").head().getAs[Long]("n_trained")
      assert(live < 2L * trained, "the growth trigger would mask the quality probe")
      val ran = Similarity.maintainPqCodebooks(spark, tmp)
      assert(ran.isDefined,
        "a distribution-drifted corpus did not trip the explained-energy probe")
      assert(Similarity.maintainPqCodebooks(spark, tmp).isEmpty,
        "the rebuilt artifact re-tripped on its own baseline")
    } finally rmrf(new java.io.File(tmp))
  }

  test("a crashed codebook retrain serves the last version; re-running maintenance completes it") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-retraincrash").toString
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    try {
      val e = Similarity.unitEmbeddings(spark, dir)
      // the drifted production shape: books trained on the first 64
      // vectors, the rest appended under them
      Similarity.savePqIndexOf(e.where(col("vec_id") < 64), tmp)
      Similarity.appendPqDelta(e.where(col("vec_id") >= 64), tmp)
      val drifted = Similarity.pqTopKFromIndex(spark, tmp).collect().map(_.toString).toSeq
      // plant the crash WINDOW: the retrain wrote every store and the
      // JVM died before the publish
      Unpublished.plant(spark, tmp, Seq("coarse", "subcents", "pqbook", "meta", "codes", "vectors"))
      val crashed = Unpublished.listing(tmp)
      // the NORMAL serve entry (warm path) serves the last published
      // version and writes nothing
      assert(Similarity.pqTopKFromIndex(spark, tmp).collect().map(_.toString).toSeq == drifted,
        "a crashed retrain leaked into the served answers")
      assert(Unpublished.listing(tmp) == crashed, "the serve changed the artifact's files")
      // re-running the maintenance completes the retrain: the answer
      // equals a fresh full-corpus build's serve
      assert(Similarity.maintainPqCodebooks(spark, tmp).isDefined,
        "re-running the maintenance did not retrain")
      val served = Similarity.pqTopKFromIndex(spark, tmp)
        .collect().map(_.toString).toSeq
      val fresh = java.nio.file.Files.createTempDirectory("graft-pq-fresh").toString
      try {
        Similarity.savePqIndexOf(Similarity.unitEmbeddings(spark, dir), fresh)
        assert(served == Similarity.pqTopKFromIndexCold(spark, fresh)
            .collect().map(_.toString).toSeq,
          "the re-run retrain diverged from a fresh full-corpus build")
      } finally rmrf(new java.io.File(fresh))
      assert(Unpublished.unnamed(spark, tmp).isEmpty,
        "the crashed retrain's files survived the re-run")
    } finally rmrf(new java.io.File(tmp))
  }

  test("a warm serve sees an artifact replaced by another writer") {
    import org.apache.spark.sql.functions._
    val a = java.nio.file.Files.createTempDirectory("graft-pq-stale").toString
    val twin = java.nio.file.Files.createTempDirectory("graft-pq-stale-twin").toString
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    def copy(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      java.nio.file.Files.walk(src).forEach { p =>
        val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      }
    }
    try {
      val e = Similarity.unitEmbeddings(spark, dir)
      val base = e.where(pmod(col("vec_id"), lit(3)) =!= 0)
      Similarity.savePqIndexOf(base, a)
      Similarity.savePqIndexOf(base, twin)
      val before = Similarity.pqTopKFromIndexCold(spark, twin).collect().map(_.toString).toSeq
      Similarity.appendPqDelta(e.where(pmod(col("vec_id"), lit(3)) === 0), twin)
      val expected = Similarity.pqTopKFromIndexCold(spark, twin).collect().map(_.toString).toSeq
      assert(expected != before, "the append must change the answer")
      // warm A, then another process replaces A's contents with the
      // appended twin's
      assert(Similarity.pqTopKFromIndex(spark, a).collect().map(_.toString).toSeq == before)
      rmrf(new java.io.File(a))
      copy(twin, a)
      assert(Similarity.pqTopKFromIndex(spark, a).collect().map(_.toString).toSeq == expected,
        "the warm serve answered from the replaced artifact's resident relations")
    } finally {
      Similarity.releaseStages(spark)
      rmrf(new java.io.File(a))
      rmrf(new java.io.File(twin))
    }
  }

  test("a pre-meta artifact backfills provenance and establishes a baseline") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-premeta").toString
    val twin = java.nio.file.Files.createTempDirectory("graft-pq-premeta-twin").toString
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    def cold(d: String) = Similarity.pqTopKFromIndexCold(spark, d)
      .collect().map(_.toString).toSeq
    try {
      Similarity.savePqIndexOf(Similarity.unitEmbeddings(spark, dir), tmp)
      Similarity.savePqIndexOf(Similarity.unitEmbeddings(spark, dir), twin)
      val served = cold(tmp)
      // simulate the pre-upgrade layout: no provenance store (and, older
      // still, no version log)
      rmrf(new java.io.File(s"$tmp/meta"))
      rmrf(new java.io.File(s"$tmp/_versions"))
      assert(Similarity.maintainPqCodebooks(spark, tmp).isEmpty,
        "the first run after upgrade must establish a baseline, not rebuild")
      val meta = spark.read.parquet(s"$tmp/meta").head()
      assert(meta.getAs[Int]("n_coarse") == 8 && meta.getAs[Int]("n_sub") == 4 &&
        meta.getAs[Int]("m") == 8 && meta.getAs[Int]("k") == 64,
        s"backfilled structural config diverged: $meta")
      assert(Similarity.maintainPqCodebooks(spark, tmp).isEmpty,
        "an undrifted artifact rebuilt against its backfilled baseline")
      assert(cold(tmp) == served, "backfill changed a served answer")
      // the backfilled artifact keeps its layout through the next append
      // (new ids re-using held vectors): it must serve exactly what the
      // never-devolved twin serves, with every refine row still under an
      // id_bucket dir
      val delta = Similarity.unitEmbeddings(spark, dir)
        .where(pmod(col("vec_id"), lit(3)) === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("u"))
      Similarity.appendPqDelta(delta, tmp)
      Similarity.appendPqDelta(delta, twin)
      assert(cold(tmp) == cold(twin),
        "an append after the backfill diverged from the untouched artifact")
      val rootParts = new java.io.File(s"$tmp/vectors").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(rootParts.isEmpty,
        s"the append landed unpartitioned refine files: ${rootParts.map(_.getName).mkString(", ")}")
    } finally { rmrf(new java.io.File(tmp)); rmrf(new java.io.File(twin)) }
  }
}
