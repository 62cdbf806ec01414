package graft

import org.apache.spark.sql.functions._

/** Specs for the round-9 additions: incremental IVF index maintenance
  * (VERDICT r5 #1) — append-vs-rebuild equivalence, two-append
  * chaining, and drift-metric consistency.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshNames(tag: String): (String, String) = (
    s"graft_test_${tag}_" + java.util.UUID.randomUUID().toString.replace("-", ""),
    tempDir(s"graft_test_$tag").toString)

  private def vecs = spark.read.parquet(s"$sfSmoke/embeddings.parquet")

  test("IvfIndex: two chained appends equal one append equal full reassignment") {
    import operators.IvfIndex
    val corpus = vecs.filter($"vec_id" % 7 =!= 0)
    val b1 = vecs.filter($"vec_id" % 7 === 0 && $"vec_id" % 2 === 0)
    val b2 = vecs.filter($"vec_id" % 7 === 0 && $"vec_id" % 2 =!= 0)

    // index A: base build + two generation-stamped appends
    val (tblA, baseA) = freshNames("ivf_a")
    val storedA = IvfIndex.build(spark, corpus, k = 8, iterations = 3, tblA, baseA)
    IvfIndex.append(spark, storedA, b1, gen = 1)
    IvfIndex.append(spark, storedA, b2, gen = 2)

    // index B: base build + ONE append of the combined batch
    val (tblB, baseB) = freshNames("ivf_b")
    val storedB = IvfIndex.build(spark, corpus, k = 8, iterations = 3, tblB, baseB)
    IvfIndex.append(spark, storedB, b1.unionByName(b2), gen = 1)

    def membership(tbl: String) =
      spark.table(tbl).select($"vec_id", $"cid").as[(Long, Int)].collect().toSet
    val mA = membership(tblA)
    val mB = membership(tblB)
    assert(mA == mB, s"chained appends diverge from single append: ${mA.diff(mB)} / ${mB.diff(mA)}")

    // both equal the full reassignment of corpus ∪ batch under the
    // SAME frozen centroids — the oracle-gate equivalence, asserted
    // here directly against KMeans.assign
    val centroids = IvfIndex.readCentroids(spark, storedA)
    val full = operators.KMeans.assign(vecs, centroids)
      .select($"vec_id", $"cid").as[(Long, Int)].collect().toSet
    assert(mA == full, "appended index diverges from full reassignment under frozen centroids")

    // append cost shape: generations partition the table — base rows
    // were never rewritten
    val gens = spark.table(tblA).groupBy("gen").count()
      .as[(Int, Long)].collect().toMap
    assert(gens(0) == corpus.count(), "base generation rewritten by append")
    assert(gens(1) == b1.count() && gens(2) == b2.count(), "append generations wrong")

    Seq(tblA, tblB).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Publish: crash mid-write and audit veto both leave the previous version live") {
    import operators.Publish
    val root = tempDir("graft_test_pub").toString
    val v1 = Publish.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    assert(Publish.currentVersion(root).contains(v1))

    // CRASH SIMULATION: a writer died mid-flight — a version dir exists
    // with partial files and no pointer swap ever happened
    val orphan = java.nio.file.Paths.get(root, "v00002")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // torn write, not a parquet file
    assert(Publish.currentVersion(root).contains(v1),
      "orphan dir must not affect the pointer")
    assert(Publish.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")), "read must resolve to the intact published version")

    // AUDIT VETO: a publish whose invariants fail must not move the
    // pointer, and must not leave its version dir readable
    val vetoed = intercept[IllegalArgumentException] {
      Publish.publish(Seq((3L, "c")).toDF("id", "x"), root,
        audit = _ => require(false, "invariant violated"))
    }
    assert(vetoed.getMessage.contains("invariant violated"))
    assert(Publish.currentVersion(root).contains(v1), "audit failure moved the pointer")

    // the vetoed attempt is TOMBSTONED (v00003.failed), not deleted —
    // its number stays burned, so one version name can never refer to
    // two different contents across time
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v00003.failed")),
      "audit-vetoed attempt must leave a .failed tombstone")
    // the next successful publish burns BOTH the orphan's and the
    // tombstone's numbers (max+1), never resurrecting either
    val v4 = Publish.publish(Seq((9L, "z")).toDF("id", "x"), root)
    assert(v4 == "v00004", s"expected v00004 past orphan v00002 and tombstone v00003, got $v4")
    assert(Publish.currentVersion(root).contains(v4))
    assert(Publish.read(spark, root).as[(Long, String)].collect().toSet == Set((9L, "z")))
  }

  test("validateMerges: rejects tables the replace-chain encoding cannot apply exactly") {
    import graft.functions.TextFunctions
    // the right-open-pattern hazard: after ("b","c"), token "bc" exists;
    // ("a","b")'s pattern ' a b' would match the PREFIX of "bc" and
    // merge across the token boundary
    val bad = intercept[IllegalArgumentException] {
      TextFunctions.validateMerges(Seq("b" -> "c", "a" -> "b"))
    }
    assert(bad.getMessage.contains("proper prefix"))
    // the shipped table passes (and is validated at class load)
    TextFunctions.validateMerges(TextFunctions.BpeMerges)
    // order matters: the reverse of the bad table is fine — "ab" exists
    // before ("b","c") but "c" is no prefix of "ab"
    TextFunctions.validateMerges(Seq("a" -> "b", "b" -> "c"))
  }

  test("Publish: fold chain through published storage equals the direct fold") {
    // the production shape pipeline_state_publish gates: state → publish
    // → read → fold → publish → read must equal fold-without-storage
    import operators.{IncrementalDedup, Publish}
    val docs = (1L to 30L).map(i => (i, s"text ${i % 11}")).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val root = tempDir("graft_test_pub2").toString
    Publish.publish(IncrementalDedup.digestState(corpus), root)
    Publish.publish(
      IncrementalDedup.foldDigestState(Publish.read(spark, root), batch), root)
    val viaStorage = Publish.read(spark, root)
      .as[(String, Long)].collect().toSet
    val direct = IncrementalDedup.foldDigestState(
        IncrementalDedup.digestState(corpus), batch)
      .as[(String, Long)].collect().toSet
    assert(viaStorage == direct, "storage round trip changed the folded state")
  }

  test("dedup_image_phash: brightness-shifted copies change PNG bytes but not the hash") {
    import operators.Multimodal
    // the perceptual property the gate plants: a uniform brightness
    // shift rewrites the compressed bytes yet flips no aHash bit
    val payload = "some document text".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val orig = Multimodal.renderTexturedPng(payload, 0)
    val shifted = Multimodal.renderTexturedPng(payload, 8)
    assert(!java.util.Arrays.equals(orig, shifted), "shift must change the PNG bytes")
    def hashOf(img: Array[Byte]) = Multimodal.phashCodes(
      Seq(Multimodal.PhashRecord(1L, img, "image/png")).toDS()).head().phash
    assert(hashOf(orig) == hashOf(shifted), "uniform brightness shift must not flip aHash bits")
    assert(hashOf(orig).length == 64 && hashOf(orig).exists(_ == '1') &&
      hashOf(orig).exists(_ == '0'), "textured fixture must yield a non-degenerate hash")

    // every planted (doc, copy) pair survives the banded detector at
    // hamming 0 — pigeonhole guarantees recall at radius ≤ 3
    val pairs = ExtQueries.dedupImagePhash(spark, sfSmoke)
      .select($"doc_id_1", $"doc_id_2", $"hamming").as[(Long, Long, Long)].collect()
    val planted = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .filter($"doc_id" % 10 === 0).select($"doc_id").as[Long].collect().toSet
    val found = pairs.filter { case (a, b, _) => b == a + 1000000L }.map(_._1).toSet
    assert(planted.subsetOf(found),
      s"planted copies missed by the phash detector: ${planted -- found}")
    assert(pairs.filter { case (a, b, _) => b == a + 1000000L }.forall(_._3 == 0L),
      "planted brightness-shifted copies must sit at hamming 0")
  }

  test("bpeEncodeWord: replace chain reproduces the reference BPE merge scan") {
    import graft.functions.TextFunctions
    // reference implementation: one left-to-right non-overlapping pass
    // per merge, in rank order — the Sennrich et al. 2016 apply step
    def refEncode(word: String): Seq[String] = {
      var syms = word.map(_.toString).toVector
      TextFunctions.BpeMerges.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val vocab = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select(explode(split($"text", " ")).as("w")).filter($"w" =!= "")
      .distinct().as[String].collect()
    // every corpus word, plus adversarial shapes: back-to-back merges
    // ("inin" → [in, in] — the case a trailing-separator pattern gets
    // wrong), multi-level merges (er then m+er; ar then p+ar)
    val words = vocab.toSeq ++ Seq("inin", "ererer", "merger", "part", "sort", "x", "partpart")
    val got = words.toDF("w")
      .select($"w", TextFunctions.bpeEncodeWord($"w").as("toks"))
      .as[(String, Seq[String])].collect().toMap
    words.foreach { w =>
      assert(got(w) == refEncode(w), s"'$w': got ${got(w)}, want ${refEncode(w)}")
    }
    // sanity of the interesting cases
    assert(got("inin") == Seq("in", "in"))
    assert(got("merger") == Seq("mer", "g", "er"))
    assert(got("part") == Seq("par", "t"))
  }

  test("pack_sequences_bpe: real token counts move the pack bins") {
    // the point of applying BPE (VERDICT r5 #4/#5 tail): bins sized on
    // the whitespace proxy differ from bins sized on real token counts
    val proxy = ExtQueries.packSequences(spark, sfSmoke)
      .select($"doc_id", $"pack_bin").as[(Long, Long)].collect().toMap
    val real = ExtQueries.packSequencesBpe(spark, sfSmoke)
      .select($"doc_id", $"pack_bin").as[(Long, Long)].collect().toMap
    assert(proxy.keySet == real.keySet)
    val moved = proxy.keySet.count(k => proxy(k) != real(k))
    assert(moved > 0, "BPE token counts did not change any pack bin")
    // BPE splits words into ~3-4 subword tokens here, so counts (and
    // bins) must grow, never shrink
    val nt = ExtQueries.textBpeEncode(spark, sfSmoke)
      .select($"doc_id", $"n_tokens", $"n_chars").as[(Long, Long, Long)].collect()
    nt.foreach { case (id, tokens, chars) =>
      assert(tokens > 0 && tokens <= chars, s"doc $id: token count outside (0, n_chars]")
    }
  }

  test("dedup_video_phash: shifted video copies match on every sampled frame") {
    import operators.Multimodal
    val payload = "video document text".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val orig = Multimodal.renderTexturedVideo(payload, 0)
    val shifted = Multimodal.renderTexturedVideo(payload, 8)
    assert(!java.util.Arrays.equals(orig, shifted), "shift must change the container bytes")
    def framesOf(v: Array[Byte], id: Long) = Multimodal.videoFramePhashes(
        Seq(Multimodal.VideoPhashRecord(id, v, "video/x-gvid")).toDS())
      .collect().map(f => f.frame_idx -> f.phash).toMap
    val fo = framesOf(orig, 1L)
    val fs = framesOf(shifted, 2L)
    assert(fo == fs, "uniform brightness shift must not flip any sampled frame's hash")
    assert(fo.nonEmpty && fo.keySet.forall(_ % Multimodal.VideoSampleStride == 0))
    // the per-frame RAMP keeps frames distinct — a frame-blind hash
    // (e.g. hashing only frame 0) would still pass the copy test above,
    // so pin that different frames of ONE video hash differently
    if (fo.size > 1) assert(fo.values.toSet.size > 1,
      "sampled frames of one video must carry distinct hashes")

    val pairs = ExtQueries.dedupVideoPhash(spark, sfSmoke)
      .select($"doc_id_1", $"doc_id_2", $"n_frames_matched", $"n_sampled_1")
      .as[(Long, Long, Long, Long)].collect()
    val planted = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .filter($"doc_id" % 10 === 0).select($"doc_id").as[Long].collect().toSet
    val found = pairs.filter { case (a, b, _, _) => b == a + 1000000L }
    assert(planted.subsetOf(found.map(_._1).toSet),
      s"planted video copies missed: ${planted -- found.map(_._1).toSet}")
    assert(found.forall { case (_, _, m, n1) => m == n1 },
      "planted copies must match on ALL sampled frames")
  }

  test("stored video frame-phash fixture == fresh render; distinct corpora keyed apart") {
    import operators.Multimodal
    val docs = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .filter($"doc_id" % 25 === 0)
      .select($"doc_id", $"text", lit(0).as("shift"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"frame_idx", $"phash")
      .as[(Long, Int, String)].collect().toSet
    val fresh = asSet(Multimodal.videoFramePhashes(
      Multimodal.packTexturedVideo(docs)).toDF())
    val stored = asSet(Multimodal.storedVideoFramePhashes(docs))
    assert(stored == fresh, "stored fixture diverged from a fresh render")
    // second call must serve the SAME rows from the cache files
    assert(asSet(Multimodal.storedVideoFramePhashes(docs)) == fresh)
    // a different input corpus (the round-6 drift class is any content
    // change under the same path) must key to a DIFFERENT cache and
    // serve ITS OWN render, not the stale one
    val docs2 = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .filter($"doc_id" % 25 === 1)
      .select($"doc_id", $"text", lit(0).as("shift"))
    val fresh2 = asSet(Multimodal.videoFramePhashes(
      Multimodal.packTexturedVideo(docs2)).toDF())
    val stored2 = asSet(Multimodal.storedVideoFramePhashes(docs2))
    assert(fresh2 != fresh, "fixture corpora must differ for the key test to bite")
    assert(stored2 == fresh2, "changed corpus was served a stale cache")
  }

  test("phash incremental/streaming: straddling planted pairs found, streaming ⊆ incremental") {
    val inc = ExtQueries.pipelineDedupImageIncremental(spark, sfSmoke)
      .select($"doc_id_1", $"doc_id_2").as[(Long, Long)].collect().toSet
    val str = ExtQueries.streamingDedupPhash(spark, sfSmoke)
      .select($"doc_id_1", $"doc_id_2").as[(Long, Long)].collect().toSet
    // new-vs-corpus (streaming) is a subset of batch-touching (incremental)
    assert(str.subsetOf(inc), s"streaming pairs not in incremental: ${str -- inc}")
    // every planted pair with exactly ONE side in the % 7 batch must
    // appear in BOTH detectors (copies sit at +1000000 ≡ +1 mod 7, so
    // the planted pairs straddle the split — the non-vacuity property
    // memory lesson 9 warns to check on every new incremental gate)
    val straddling = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .filter($"doc_id" % 10 === 0).select($"doc_id").as[Long].collect()
      .map(d => (d, d + 1000000L))
      .filter { case (a, b) => (a % 7 == 0) != (b % 7 == 0) }
      .toSet
    assert(straddling.nonEmpty, "fixture lost its straddling planted pairs")
    assert(straddling.subsetOf(str), s"streaming missed: ${straddling -- str}")
    assert(straddling.subsetOf(inc), s"incremental missed: ${straddling -- inc}")
  }

  test("dedup_audio_phash: volume-scaled copies change PCM bytes but not the hash") {
    import operators.Multimodal
    val payload = "some audio document".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val loud = Multimodal.renderWavTextured(payload, 64)
    val quiet = Multimodal.renderWavTextured(payload, 32)
    assert(!java.util.Arrays.equals(loud, quiet), "volume change must alter the WAV bytes")
    def hashOf(wav: Array[Byte]) = Multimodal.audioPhashes(
      Seq(Multimodal.AudioPhashRecord(1L, wav, "audio/wav")).toDS()).head().phash
    assert(hashOf(loud) == hashOf(quiet),
      "uniform volume scaling must not flip energy-ratio bits")
    assert(hashOf(loud).length == 64 && hashOf(loud).exists(_ == '1') &&
      hashOf(loud).exists(_ == '0'), "textured wave must yield a non-degenerate hash")

    val pairs = ExtQueries.dedupAudioPhash(spark, sfSmoke)
      .select($"doc_id_1", $"doc_id_2", $"hamming").as[(Long, Long, Long)].collect()
    val planted = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .filter($"doc_id" % 10 === 0).select($"doc_id").as[Long].collect().toSet
    val found = pairs.filter { case (a, b, _) => b == a + 1000000L }.map(_._1).toSet
    assert(planted.subsetOf(found),
      s"planted volume-scaled copies missed: ${planted -- found}")
  }

  test("solveAuto: driver union-find equals runStar, fallback engages past the bound") {
    import operators.ConnectedComponents
    // mixed shape: a 200-hop chain (the any-diameter case 7-round
    // propagation provably cannot solve), a triangle, and isolated ids
    val chain = (1L until 200L).map(i => (i, i + 1))
    val tri = Seq((500L, 501L), (501L, 502L), (500L, 502L))
    val edges = (chain ++ tri).toDF("src", "dst")
    val verts = ((1L to 200L) ++ Seq(500L, 501L, 502L, 900L, 901L)).toDF("id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"component").as[(Long, Long)].collect().toSet
    val viaDriver = canon(ConnectedComponents.solveAuto(verts, edges))
    val viaStar = canon(ConnectedComponents.runStar(verts, edges))
    assert(viaDriver == viaStar, s"solver paths diverge: ${viaDriver.diff(viaStar)}")
    assert(viaDriver.filter(_._1 <= 200L).forall(_._2 == 1L), "chain must contract to 1")
    assert(viaDriver.contains((900L, 900L)) && viaDriver.contains((502L, 500L)))
    // maxCollected = 0 forces the distributed path — same answer
    val viaFallback = canon(ConnectedComponents.solveAuto(verts, edges, maxCollected = 0L))
    assert(viaFallback == viaDriver, "fallback path diverges from driver path")
  }

  test("IvfIndex.drift: counts partition the lists and retrain flags are consistent") {
    import operators.IvfIndex
    val corpus = vecs.filter($"vec_id" % 7 =!= 0)
    val batch = vecs.filter($"vec_id" % 7 === 0)
    val (tbl, base) = freshNames("ivf_d")
    val stored = IvfIndex.build(spark, corpus, k = 8, iterations = 3, tbl, base)
    IvfIndex.append(spark, stored, batch, gen = 1)
    val d = IvfIndex.drift(spark.table(tbl))
      .as[(Int, Long, Long, Option[Double], Option[Double], Boolean)].collect()
    assert(d.map(_._2).sum == corpus.count(), "n_base does not sum to corpus size")
    assert(d.map(_._3).sum == batch.count(), "n_new does not sum to batch size")
    d.foreach { case (cid, nb, nn, mb, mn, retrain) =>
      assert(mb.isDefined == (nb > 0) && mn.isDefined == (nn > 0),
        s"cid $cid: residual means defined iff populated")
      // growth-triggered retrain must at least fire where appends dominate
      if (nn * 2 > nb) assert(retrain, s"cid $cid: growth trigger missed")
    }
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
