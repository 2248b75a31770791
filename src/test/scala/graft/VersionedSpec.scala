package graft

import org.apache.spark.sql.functions._
import graft.warehouse.Versioned

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  test("append/overwrite lineage and time travel") {
    val path = tmpDir("vtt") + "/t"
    val v1 = Versioned.commit(Seq(1, 2).toDF("x"), path)
    val v2 = Versioned.commit(Seq(3).toDF("x"), path)
    val v3 = Versioned.commit(Seq(9).toDF("x"), path, overwrite = true)
    assert((v1, v2, v3) === (1L, 2L, 3L))
    assert(Versioned.versions(spark, path) === Seq(1L, 2L, 3L))
    def xs(v: Long) = Versioned.read(spark, path, Some(v))
      .as[Int].collect().sorted.toSeq
    assert(xs(1) === Seq(1, 2))
    assert(xs(2) === Seq(1, 2, 3)) // append keeps parent segments
    assert(xs(3) === Seq(9))       // overwrite replaces the table
    // the schema is pinned from a footer: building a read runs no job
    assert(jobsLaunchedBy { Versioned.read(spark, path, Some(2L)): Unit } == 0)
    assert(jobsLaunchedBy { Versioned.read(spark, path): Unit } == 0)
    // latest = v3; old snapshots still readable after the overwrite
    assert(Versioned.read(spark, path).as[Int].collect().toSeq === Seq(9))
    assert(xs(2) === Seq(1, 2, 3))
  }

  test("a torn commit (segment without manifest) is invisible") {
    val path = tmpDir("vtorn") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit
    // simulate a crash between segment write and manifest publish
    Seq(99).toDF("x").write.parquet(s"$path/data/seg-zzzzz")
    assert(Versioned.versions(spark, path) === Seq(1L))
    assert(Versioned.read(spark, path).as[Int].collect().toSeq === Seq(1))
    // the next commit continues the lineage past the orphan
    Versioned.commit(Seq(2).toDF("x"), path): Unit
    assert(Versioned.read(spark, path)
      .as[Int].collect().sorted.toSeq === Seq(1, 2))
  }

  test("unknown version and empty table fail with named errors") {
    val path = tmpDir("vempty") + "/t"
    val e1 = intercept[IllegalArgumentException] {
      Versioned.read(spark, path)
    }
    assert(e1.getMessage.contains("no committed versions"))
    Versioned.commit(Seq(1).toDF("x"), path): Unit
    val e2 = intercept[IllegalArgumentException] {
      Versioned.read(spark, path, Some(7L))
    }
    assert(e2.getMessage.contains("version 7 not in"))
  }

  test("vacuum keeps the retained snapshots intact, drops the rest") {
    val path = tmpDir("vvac") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit           // v1
    Versioned.commit(Seq(2).toDF("x"), path): Unit           // v2
    Versioned.commit(Seq(9).toDF("x"), path, overwrite = true) // v3
    // orphan segment from a simulated torn commit — vacuum sweeps it
    Seq(99).toDF("x").write.parquet(s"$path/data/seg-zzzzz")
    val (m, s) = Versioned.vacuum(spark, path, keepLast = 1)
    // v1/v2 manifests dropped; seg-1/seg-2 (unreferenced by v3) and
    // the orphan dropped; v3 reads exactly as before
    assert((m, s) === (2, 3))
    assert(Versioned.versions(spark, path) === Seq(3L))
    assert(Versioned.read(spark, path).as[Int].collect().toSeq === Seq(9))
    intercept[IllegalArgumentException] {
      Versioned.read(spark, path, Some(2L))
    }
  }

  test("vacuum retains shared segments an older live version needs") {
    val path = tmpDir("vvac2") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit // v1
    Versioned.commit(Seq(2).toDF("x"), path): Unit // v2 = seg1+seg2
    Versioned.commit(Seq(3).toDF("x"), path): Unit // v3 = seg1+seg2+seg3
    val (m, s) = Versioned.vacuum(spark, path, keepLast = 2)
    assert((m, s) === (1, 0)) // seg-1 is still referenced by v2 and v3
    assert(Versioned.read(spark, path, Some(2L))
      .as[Int].collect().sorted.toSeq === Seq(1, 2))
    assert(Versioned.read(spark, path, Some(3L))
      .as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
  }

  test("compact rewrites latest as one segment, history preserved") {
    val path = tmpDir("vcomp") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit
    Versioned.commit(Seq(2).toDF("x"), path): Unit
    Versioned.commit(Seq(3).toDF("x"), path): Unit
    val v = Versioned.compact(spark, path, numFiles = Some(1))
    assert(v === 4L)
    // same data, one segment; pre-compaction snapshots intact
    assert(Versioned.read(spark, path)
      .as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    assert(Versioned.read(spark, path, Some(2L))
      .as[Int].collect().sorted.toSeq === Seq(1, 2))
    // vacuum after compaction retires the three original segments
    val (m, s) = Versioned.vacuum(spark, path, keepLast = 1)
    assert((m, s) === (3, 3))
    assert(Versioned.read(spark, path)
      .as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
  }

  private def hfs(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  test("selective compact: small segments binpack, big segment is " +
      "carried by reference byte-identically") {
    val path = tmpDir("vselc") + "/t"
    Versioned.commit(spark.range(0, 5000).toDF("x"), path): Unit // fat
    Versioned.commit(Seq(90001L).toDF("x"), path): Unit
    Versioned.commit(Seq(90002L).toDF("x"), path): Unit
    Versioned.commit(Seq(90003L).toDF("x"), path): Unit
    val sizes = Versioned.segmentBytes(spark, path)
    val fatSeg = sizes.head._1
    assert(sizes.map(_._1).forall(_.startsWith("data/seg-")))
    assert(sizes.size === 4)
    val maxBytes = sizes.map(_._2).max
    assert(sizes.head._2 === maxBytes) // the fat segment is largest
    val (f, _) = hfs(path)
    def fatFiles() = f.listStatus(
      new org.apache.hadoop.fs.Path(s"$path/$fatSeg")).toSeq
      .map(st => (st.getPath.toString, st.getLen,
        st.getModificationTime)).sortBy(_._1)
    val before = fatFiles()
    val v = Versioned.compact(spark, path, smallerThanBytes = maxBytes)
    assert(v === 5L)
    // manifest = fat (by reference, FIRST) + one packed segment
    val after = Versioned.segments(spark, path)
    assert(after.size === 2 && after.head === fatSeg)
    assert(after(1).startsWith("data/seg-00005"))
    // the fat segment's files were not touched, byte for byte
    assert(fatFiles() === before)
    // read-back equality: compacted snapshot == pre-compact snapshot
    assert(Versioned.read(spark, path).as[Long].collect().sorted.toSeq
      === ((0L until 5000L) ++ Seq(90001L, 90002L, 90003L)))
    // history preserved until vacuum; vacuum retires ONLY the small
    // originals (3 manifests v1-v4 dropped; seg-2/3/4 dropped, the
    // fat segment survives because v5 references it)
    assert(Versioned.read(spark, path, Some(4L)).count() === 5003L)
    val (m, s) = Versioned.vacuum(spark, path, keepLast = 1)
    assert((m, s) === (4, 3))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$path/$fatSeg")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$path/${sizes(1)._1}")))
    assert(Versioned.read(spark, path).count() === 5003L)
  }

  test("selective compact no-ops when fewer than two segments qualify") {
    val path = tmpDir("vselnoop") + "/t"
    Versioned.commit(spark.range(0, 1000).toDF("x"), path): Unit
    Versioned.commit(Seq(1L).toDF("x"), path): Unit
    val sizes = Versioned.segmentBytes(spark, path)
    // threshold below both sizes: nothing qualifies; threshold between
    // them: only one small segment - both are no-ops
    assert(Versioned.compact(spark, path,
      smallerThanBytes = 1L) === 2L)
    assert(Versioned.compact(spark, path,
      smallerThanBytes = sizes.map(_._2).max) === 2L)
    assert(Versioned.versions(spark, path) === Seq(1L, 2L))
  }

  test("concurrent committers both succeed: CAS retry serializes " +
      "versions, no commit is lost") {
    val path = tmpDir("vcas") + "/t"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 2).map { w =>
      Future {
        (0 until 3).map { i =>
          Versioned.commit(Seq(w * 10L + i).toDF("x"), path)
        }
      }
    }
    val got = writers.map(Await.result(_, 120.seconds))
    // six commits, all succeeded, versions are exactly 1..6
    assert(got.flatten.sorted === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(Versioned.versions(spark, path) === (1L to 6L))
    // nothing lost: the latest snapshot holds every committed row
    assert(Versioned.read(spark, path).as[Long].collect().sorted.toSeq
      === Seq(10L, 11L, 12L, 20L, 21L, 22L))
    // every intermediate snapshot is readable and monotone in size
    (1L to 6L).foreach { v =>
      assert(Versioned.read(spark, path, Some(v)).count() === v)
    }
  }

  test("readDelta: per-version append slices; overwrite delta is its " +
      "segment; version gaps rejected") {
    val path = tmpDir("vdelta") + "/t"
    Versioned.commit(Seq(1, 2).toDF("x"), path): Unit
    Versioned.commit(Seq(3).toDF("x"), path): Unit
    Versioned.commit(Seq(9).toDF("x"), path, overwrite = true): Unit
    def d(v: Long) = Versioned.readDelta(spark, path, v)
      .as[Int].collect().sorted.toSeq
    assert(d(1) === Seq(1, 2))
    assert(d(2) === Seq(3))   // only the appended segment, not 1+2+3
    assert(d(3) === Seq(9))   // overwrite: the added segment
    assert(jobsLaunchedBy { Versioned.readDelta(spark, path, 2L): Unit } == 0)
    intercept[IllegalArgumentException] { d(7) }
  }

  test("versions parses manifests past five digits") {
    val path = tmpDir("vbig") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit
    val (f, _) = hfs(path)
    // simulate the 123456-th commit: same segment list, huge version.
    // The out-of-band copy leaves a GAP (1 → 123456), which only the
    // legacy full-listing path can discover — drop the hint to force
    // it (a real lake's versions are protocol-contiguous).
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$path/_versions/v00001.list"),
      f, new org.apache.hadoop.fs.Path(s"$path/_versions/v123456.list"),
      false, spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(
      s"$path/_versions/_latest.hint"), false): Unit
    assert(Versioned.versions(spark, path) === Seq(1L, 123456L))
    assert(Versioned.read(spark, path, Some(123456L))
      .as[Int].collect().toSeq === Seq(1))
    // and the next commit continues past it
    assert(Versioned.commit(Seq(2).toDF("x"), path) === 123457L)
  }

  test("checkpointed reads: latest-snapshot resolution after 10k " +
      "commits touches O(1) manifest files, CAS continues past it") {
    val path = tmpDir("vchk") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit // v1: real segment
    val (f, _) = hfs(path)
    val seg = Versioned.segments(spark, path).head
    // synthesize the manifest trail of 10k commits (each a full
    // snapshot listing the same live segment — manifests are
    // self-contained, so every one is a valid checkpoint), then
    // refresh the pointer the way the winning committer would
    (2 to 10000).foreach { v =>
      val out = f.create(new org.apache.hadoop.fs.Path(
        f"$path/_versions/v$v%05d.list"), true)
      try out.write((seg + "\n").getBytes("UTF-8")) finally out.close()
    }
    val outH = f.create(new org.apache.hadoop.fs.Path(
      s"$path/_versions/_latest.hint"), true)
    try outH.write("10000".getBytes("UTF-8")) finally outH.close()
    Versioned.metaOps.set(0L)
    assert(Versioned.read(spark, path).as[Int].collect().toSeq === Seq(1))
    val readOps = Versioned.metaOps.get()
    // hint read + exists(10000) + gallop miss(10001) + manifest read —
    // a LISTING would have counted 10k; assert an order-of-magnitude
    // O(1) bound, not the exact op mix
    assert(readOps <= 12L, s"read cost $readOps manifest ops")
    // CAS preserved under the checkpoint: the next commit claims 10001
    Versioned.metaOps.set(0L)
    assert(Versioned.commit(Seq(2).toDF("x"), path) === 10001L)
    val commitOps = Versioned.metaOps.get()
    assert(commitOps <= 12L, s"commit cost $commitOps manifest ops")
    // read-back equality: the snapshot the commit extended is intact
    assert(Versioned.read(spark, path)
      .as[Int].collect().sorted.toSeq === Seq(1, 2))
    // a stale hint only costs gallop probes, never wrong answers
    val outS = f.create(new org.apache.hadoop.fs.Path(
      s"$path/_versions/_latest.hint"), true)
    try outS.write("9990".getBytes("UTF-8")) finally outS.close()
    assert(Versioned.latestVersion(spark, path) === Some(10001L))
    // a corrupt hint falls back to the full listing, same answer
    val outC = f.create(new org.apache.hadoop.fs.Path(
      s"$path/_versions/_latest.hint"), true)
    try outC.write("not-a-number".getBytes("UTF-8")) finally outC.close()
    assert(Versioned.latestVersion(spark, path) === Some(10001L))
  }

  test("vacuum minAgeMs retention: young versions survive outside " +
      "keepLast; a pinned young snapshot completes its scan") {
    val path = tmpDir("vret") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit // v1
    // v2 OVERWRITES: seg-1 is live only through v1's manifest, so an
    // aggressive vacuum genuinely reclaims it under the pinned reader
    Versioned.commit(Seq(2).toDF("x"), path, overwrite = true): Unit
    Versioned.commit(Seq(3).toDF("x"), path): Unit // v3
    // a time-travel reader resolves v1 (plan only — scan not yet run)
    val pinned = Versioned.read(spark, path, Some(1L))
    // retention guard: everything is younger than 1h, so even
    // keepLast=1 retires NOTHING — the pinned reader is safe
    val (m0, s0) = Versioned.vacuum(spark, path, keepLast = 1,
      minAgeMs = 3600L * 1000L)
    assert((m0, s0) === (0, 0))
    assert(pinned.as[Int].collect().toSeq === Seq(1)) // scan completes
    assert(Versioned.versions(spark, path) === Seq(1L, 2L, 3L))
    // without the guard (minAgeMs=0) the old versions retire, and a
    // reader of a retired version fails LOUDLY at manifest resolution
    val (m1, _) = Versioned.vacuum(spark, path, keepLast = 1)
    assert(m1 === 2)
    intercept[IllegalArgumentException] {
      Versioned.read(spark, path, Some(1L))
    }
    // an already-resolved plan over retired segments fails loudly at
    // file open (missing part file), never silently partial
    intercept[Exception] { pinned.collect(): Unit }
  }

  test("readDelta fails loudly when the immediate predecessor was " +
      "vacuumed (never silently folds intermediate segments)") {
    val path = tmpDir("vdpred") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit // v1
    Versioned.commit(Seq(2).toDF("x"), path): Unit // v2
    Versioned.commit(Seq(3).toDF("x"), path): Unit // v3
    Versioned.commit(Seq(4).toDF("x"), path): Unit // v4
    Versioned.vacuum(spark, path, keepLast = 2): Unit // v3,v4 survive
    // v4's predecessor v3 is retained: the delta is exactly seg-4
    assert(Versioned.readDelta(spark, path, 4L)
      .as[Int].collect().toSeq === Seq(4))
    // v3's predecessor v2 was vacuumed: the nearest-surviving-older
    // fallback would return seg1+seg2+seg3 (the whole snapshot) as a
    // "delta" — the contract is to refuse instead
    val e = intercept[IllegalArgumentException] {
      Versioned.readDelta(spark, path, 3L)
    }
    assert(e.getMessage.contains("predecessor"))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("compact races a concurrent committer: either it succeeds or " +
      "fails loudly - the interleaved commit is NEVER dropped") {
    val path = tmpDir("vcrace") + "/t"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Versioned.commit(Seq(0L).toDF("x"), path): Unit
    val committer = Future {
      (1 to 6).map(i => Versioned.commit(Seq(i.toLong).toDF("x"), path))
    }
    val compactor = Future {
      (1 to 6).map { _ =>
        Thread.sleep(15L)
        try Right(Versioned.compact(spark, path, numFiles = Some(1)))
        catch { case e: RuntimeException
            if e.getMessage.contains("lost the claim") => Left(e) }
      }
    }
    Await.result(committer, 120.seconds): Unit
    Await.result(compactor, 120.seconds): Unit
    // the invariant the TOCTOU fix buys: every committed row is in the
    // final snapshot no matter how compaction interleaved
    assert(Versioned.read(spark, path).as[Long].collect().sorted.toSeq
      === (0L to 6L))
  }

  test("vacuum minAgeMs spares an in-flight commit's staged segment: " +
      "stage -> vacuum -> publish, and the commit survives") {
    val path = tmpDir("vstage") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit // v1
    val (f, _) = hfs(path)
    // a second committer mid-flight: segment staged, manifest NOT yet
    // published (exactly what commit() does before tryPublish)
    val segRel = "data/seg-00002-deadbeef"
    Seq(2).toDF("x").write.parquet(s"$path/$segRel")
    // vacuum with the retention window: the staged segment is
    // unreferenced but YOUNG - it must survive
    val (m, s) = Versioned.vacuum(spark, path, keepLast = 1,
      minAgeMs = 3600L * 1000L)
    assert((m, s) === (0, 0))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$path/$segRel")))
    // the commit now publishes (parent segments + its own, as commit
    // does) and the snapshot reads every row - no data loss
    val parentSegs = Versioned.segments(spark, path, Some(1L))
    val out = f.create(new org.apache.hadoop.fs.Path(
      s"$path/_versions/v00002.list"), true)
    try out.write(((parentSegs :+ segRel).mkString("\n") + "\n")
      .getBytes("UTF-8")) finally out.close()
    assert(Versioned.read(spark, path)
      .as[Int].collect().sorted.toSeq === Seq(1, 2))
    // contrast: WITHOUT the age floor (minAgeMs=0) the same staged
    // segment would have been swept as an orphan - pin the bug class
    val seg3 = "data/seg-00003-cafebabe"
    Seq(3).toDF("x").write.parquet(s"$path/$seg3")
    val (_, s0) = Versioned.vacuum(spark, path, keepLast = 2)
    assert(s0 === 1)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/$seg3")))
  }

  test("vacuum minAgeMs still reclaims orphans PAST the age window") {
    val path = tmpDir("vold") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit
    val (f, _) = hfs(path)
    val orphan = "data/seg-99999-torn0000"
    Seq(99).toDF("x").write.parquet(s"$path/$orphan")
    // age the torn-commit debris past the retention window
    val p = new org.apache.hadoop.fs.Path(s"$path/$orphan")
    f.setTimes(p, System.currentTimeMillis() - 7200L * 1000L, -1L)
    val (m, s) = Versioned.vacuum(spark, path, keepLast = 1,
      minAgeMs = 3600L * 1000L)
    assert((m, s) === (0, 1))
    assert(!f.exists(p))
    assert(Versioned.read(spark, path).as[Int].collect().toSeq === Seq(1))
  }

  test("maintain composes compact+vacuum: content identical, layout " +
      "binpacked, history retired past the window") {
    val path = tmpDir("vmaint") + "/t"
    Versioned.commit(spark.range(0, 5000).toDF("x"), path): Unit // fat
    Versioned.commit(Seq(90001L).toDF("x"), path): Unit
    Versioned.commit(Seq(90002L).toDF("x"), path): Unit
    val before = Versioned.read(spark, path)
      .as[Long].collect().sorted.toSeq
    val maxBytes = Versioned.segmentBytes(spark, path).map(_._2).max
    val (v, m, s) = Versioned.maintain(spark, path,
      smallerThanBytes = maxBytes, keepLast = 1)
    assert(v === 4L)
    assert(m === 3) // v1-v3 manifests retired
    assert(s === 2) // the two small originals reclaimed
    // content unchanged (the q301 contract), layout = fat + one packed
    assert(Versioned.read(spark, path)
      .as[Long].collect().sorted.toSeq === before)
    assert(Versioned.segments(spark, path).size === 2)
    // a second maintenance pass is a no-op: only one small segment
    val (v2, m2, s2) = Versioned.maintain(spark, path,
      smallerThanBytes = maxBytes, keepLast = 1)
    assert((v2, m2, s2) === (4L, 0, 0))
  }

  test("snapshot isolation: a reader plan resolved at v1 is unaffected " +
      "by a later commit") {
    val path = tmpDir("viso") + "/t"
    Versioned.commit(Seq(1).toDF("x"), path): Unit
    val snap = Versioned.read(spark, path, Some(1L))
    Versioned.commit(Seq(2).toDF("x"), path): Unit
    assert(snap.as[Int].collect().toSeq === Seq(1))
  }
}
