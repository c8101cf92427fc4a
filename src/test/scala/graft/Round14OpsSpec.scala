package graft

import graft.operators.{Graph, Multimodal}

/** Round-10 operator tier: sampled-pivot betweenness, mixed-container
  * sniffing, manifest atomicity, rate-limiter out-of-order state safety.
  */
class Round14OpsSpec extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("longestPathLevels: exact Kahn depth at sweeps >= longest path; partial relax deterministic") {
    val session = spark
    import session.implicits._
    // diamond + tail: longest path 1→{2,3}→4→5 has length 3
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val full = Graph.longestPathLevels(e, sweeps = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // one sweep relaxes one hop from the zero field: every non-source
    // lands at 1 — the deterministic partial relax, not an error state
    val partial = Graph.longestPathLevels(e, sweeps = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("betweennessSampled with all pivots == betweennessExact, term for term") {
    val session = spark
    import session.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val exact = Graph.betweennessExact(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sampled = Graph.betweennessSampled(edges, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // scale factor n(n-1) DIV k(k-1) = 1 when S = V, and the S×S pair sum
    // hits the same truncation points -> identical rows
    assert(sampled === exact)
    assert(exact.nonEmpty)
  }

  test("betweenness numerator survives sigma products past int64 (DECIMAL(38,0) path)") {
    val session = spark
    import session.implicits._
    // Layered path: s -> 17 layers of 8 (all-to-all between adjacent
    // layers) -> t. sigma(s,v) * sigma(v,t) = 8^16 for every middle-layer
    // v; * 10^6 = 2.8e20, which WRAPS in int64 (the round-9 advice) and
    // must not in the DECIMAL(38,0) numerator. Node labels are chosen so
    // the two md5-smallest land on s and t: k = 2 samples exactly {s, t}.
    val width = 8
    val layers = 17
    val byMd5 = (1L to 200L).sortBy(l => (md5hex(s"bc-root-$l"), l))
    val sNode = byMd5(0)
    val tNode = byMd5(1)
    val mid = byMd5.drop(2).take(layers * width) // any labels; md5 > s,t
    val layerNodes: Seq[Seq[Long]] =
      Seq(Seq(sNode)) ++ (0 until layers).map(i =>
        mid.slice(i * width, (i + 1) * width)) ++ Seq(Seq(tNode))
    val edges = layerNodes.sliding(2).flatMap { case Seq(a, b) =>
      for (x <- a; y <- b) yield (x, y)
    }.toSeq.toDF("src", "dst")

    val got = Graph.betweennessSampled(edges, k = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // reference: for v in layer i (1-based of 17), sigma_sv = 8^(i-1),
    // sigma_vt = 8^(17-i); term = sigma_sv*sigma_vt*1e6 / sigma_st with
    // sigma_st = 8^17 -> exactly 125000 per direction; two ordered pivot
    // pairs; scale = n(n-1) DIV k(k-1)
    val n = BigInt(2 + layers * width)
    val expectedBc =
      (BigInt(250000) * (n * (n - 1)) / BigInt(2)).toLong
    assert(got.keySet === mid.take(layers * width).toSet)
    got.values.foreach { case (bc, np) =>
      assert(bc === expectedBc)
      assert(np === 2L)
    }
    // sanity: the product really is past int64 (the old expression wrapped)
    assert(BigInt(8).pow(16) * 1000000 > BigInt(Long.MaxValue))
  }

  test("betweennessSampled degrades to empty on a degenerate graph") {
    val session = spark
    import session.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Graph.betweennessSampled(empty, k = 6)
    assert(out.columns.toSeq ===
      Seq("node", "bc_est_ppm", "n_pairs_routed"))
    assert(out.count() === 0L)
  }

  test("sniffOne: magic-byte dispatch parses all four containers") {
    val payload = "hello, container".getBytes("UTF-8")
    val png = Multimodal.sniffOne(1L,
      Multimodal.buildPng(20, 30, bitDepth = 8, colorType = 2, payload))
    assert(png.format === "png" && png.parse_ok === 1L &&
           png.hdr_width === 20 && png.hdr_height === 30 &&
           png.hdr_bit_depth === 8)
    val jpg = Multimodal.sniffOne(2L,
      Multimodal.buildJpeg(40, 20, orientation = 3, progressive = true,
                           payload = payload))
    assert(jpg.format === "jpeg" && jpg.parse_ok === 1L &&
           jpg.hdr_width === 40 && jpg.hdr_height === 20 &&
           jpg.hdr_orientation === 3)
    val wav = Multimodal.sniffOne(3L,
      Multimodal.buildWav(channels = 2, sampleRate = 9000,
                          bitsPerSample = 8, payload))
    assert(wav.format === "wav" && wav.parse_ok === 1L &&
           wav.hdr_channels === 2 && wav.hdr_sample_rate === 9000 &&
           wav.hdr_n_samples === (payload.length + 1) / 2)
    val mp4 = Multimodal.sniffOne(4L,
      Multimodal.buildMp4(timescale = 1000, duration = 777L, payload))
    assert(mp4.format === "mp4" && mp4.parse_ok === 1L &&
           mp4.hdr_duration_ms === 777L)
  }

  test("sniffOne: unknown and corrupt blobs DEGRADE, never throw") {
    val payload = "some text".getBytes("UTF-8")
    // unknown: no magic at all (incl. the empty blob)
    assert(Multimodal.sniffOne(1L, payload).format === "unknown")
    assert(Multimodal.sniffOne(2L, Array.emptyByteArray).format === "unknown")
    assert(Multimodal.sniffOne(1L, payload).parse_ok === 0L)
    // recognized-but-truncated: 12 bytes keep every magic (WAV's spans
    // bytes 8-11) but no parseable header -> parse_ok = 0, zeros, no throw
    val containers = Seq(
      "png" -> Multimodal.buildPng(20, 30, 8, 2, payload),
      "jpeg" -> Multimodal.buildJpeg(20, 30, 1, progressive = false,
                                     payload = payload),
      "wav" -> Multimodal.buildWav(1, 8000, 8, payload),
      "mp4" -> Multimodal.buildMp4(1000, 5L, payload))
    containers.foreach { case (fmt, c) =>
      val r = Multimodal.sniffOne(9L, java.util.Arrays.copyOfRange(c, 0, 12))
      assert(r.format === fmt, s"truncated $fmt misdispatched as ${r.format}")
      assert(r.parse_ok === 0L && r.hdr_width === 0 && r.hdr_channels === 0 &&
             r.hdr_duration_ms === 0L, s"truncated $fmt did not degrade")
    }
  }

  test("LSH pair budget: a bucket over sqrt(8n) degrades to a spanning path; honest clusters under it survive") {
    val session = spark
    import session.implicits._
    // n = 310 docs -> budget threshold floor(sqrt(8*310)) = 49.
    // 300 identical docs collide on EVERY band: bucket 300 > 49 (yet far
    // under the absolute 65536 ceiling) -> the Stress12 bomb shape. The
    // SIGNATURE stage must refuse the C(300,2) quadratic blowup but keep
    // the bucket CONNECTED (round 11): consecutive-id path pairs, 299 of
    // them, all tau-verified true here because the docs are identical —
    // downstream union-find yields the same single cluster the unbudgeted
    // pipeline would, at linear cost.
    val bomb = (0 until 300).map(i => (i.toLong,
        "the quick brown fox jumps over the lazy dog again and again")) ++
      (300 until 310).map(i => (i.toLong, s"unique doc $i with words $i"))
    val bombPairs = graft.operators.Dedup
      .minhashLshPairs(bomb.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bombPairs.size === 299,
      s"expected the 299-pair spanning path, got ${bombPairs.size} pairs")
    assert(bombPairs === (1 until 300).map(i => (i - 1L, i.toLong)).toSet,
      "path must pair consecutive ids within the over-budget bucket")
    // 30 identical docs in the same n: 30*30 = 900 <= 8*310 -> the bucket
    // is a legitimate near-dup cluster and keeps all its pairs
    val ok = (0 until 30).map(i => (i.toLong,
        "the quick brown fox jumps over the lazy dog again and again")) ++
      (30 until 310).map(i => (i.toLong, s"unique doc $i with words $i"))
    val okPairs = graft.operators.Dedup
      .minhashLshPairs(ok.toDF("doc_id", "text"), "doc_id", "text")
      .count()
    assert(okPairs === 30L * 29 / 2,
      s"budget bit a legitimate cluster: $okPairs of ${30 * 29 / 2} pairs")
  }

  test("manifest publish is atomic: rename into place, no tmp residue, fallback intact") {
    val session = spark
    import session.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-manifest").toString + "/t"
    (1 to 3).foreach(i =>
      VersionedTable.publish(spark, Seq((i.toLong, s"v$i")).toDF("id", "x"), root))
    val dir = new java.io.File(root)
    val names = dir.listFiles().map(_.getName).toSeq
    assert(names.count(_ == "_MANIFEST") === 1)
    assert(!names.exists(_.contains("_MANIFEST_tmp")),
           s"tmp residue left behind: $names")
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_MANIFEST")), "UTF-8")
    assert(content === "1\n2\n3")
    // a missing manifest is SAFE by design: readers fall back to listing
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_MANIFEST"))
    assert(VersionedTable.latestVersion(spark, root) === Some(3L))
    // and the next publish re-establishes it
    VersionedTable.publish(spark, Seq((4L, "v4")).toDF("id", "x"), root)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_MANIFEST")), "UTF-8") === "1\n2\n3\n4")
    // an all-digit line past Long range is foreign content too: readers
    // fall back to the listing instead of throwing NumberFormatException
    // (the checksum sidecar goes, or the stale checksum alone would force
    // the fallback before the content is parsed)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/_MANIFEST"),
      "1\n2\n99999999999999999999".getBytes("UTF-8"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/._MANIFEST.crc"))
    assert(VersionedTable.latestVersion(spark, root) === Some(4L))
  }
}
