package graft.tools

import org.apache.spark.sql.functions._

/** Soak probe for the STORED simhash index ([[graft.dedup.NearDup
  * .writeSimHashIndex]]) — the receipt behind MediaIngest.startSteady's
  * claim that an indexed hash history beats the flat form's per-batch
  * full re-read + re-block. Synthetic 64-bit hashes stand in for the
  * decoded media keys (the index layer never sees pixels; decode rates
  * are MediaHashProbe's receipt), sized H and 10H, probed by the same
  * fixed small batch:
  *
  *   - flat:    [[NearDup.simHashNearDupsAgainstCorpus]] — what every
  *              micro-batch of the non-indexed loop pays: read ALL
  *              stored hashes, explode ×(radius+1) block keys, shuffle.
  *   - indexed: [[NearDup.simHashNearDupsAgainstIndex]] — pre-blocked
  *              postings read back partition-pruned to the pkeys the
  *              batch touches.
  *
  * Pairs must agree exactly (same blocking law); the honest scale story
  * is the ratio AND its growth: the flat form re-pays O(history)
  * staging per batch forever, the indexed form reads the touched slice.
  *
  * usage: MediaIndexProbe [nHistory] [nBatch] [parts]
  */
object MediaIndexProbe {
  def main(args: Array[String]): Unit = {
    val nHistory = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nBatch = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val parts = args.drop(2).headOption.map(_.toInt).getOrElse(256)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    def timed(tag: String)(f: => Long): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs rows=$n")
    }
    // deterministic pseudo-random 64-bit hashes; a planted twin every
    // 1000 ids (id and id+1 differ in 2 bits) keeps the pair set nonempty
    def hashes(n: Long, idOffset: Long) =
      spark.range(n).select((col("id") + idOffset).as("id"),
        when(col("id") % 1000 === 1,
            xxhash64(col("id") - 1).bitwiseXOR(lit(3L)))
          .otherwise(xxhash64(col("id"))).as("simhash"))

    val tmp = java.nio.file.Files.createTempDirectory("media_idx_probe")
    val batch = hashes(nBatch.toLong, 5000000000L).localCheckpoint()

    for (scale <- Seq(1L, 10L)) {
      val h = nHistory * scale
      val hist = hashes(h, 0L).localCheckpoint()
      val idx = tmp.resolve(s"idx_$scale").toString
      timed(s"build_index_${scale}x (once)") {
        graft.dedup.NearDup.writeSimHashIndex(hist, idx, maxHamming = 3, parts = parts)
        h
      }
      var flatPairs = 0L
      var idxPairs = 0L
      timed(s"flat_probe_${scale}x (per batch)") {
        flatPairs = graft.dedup.NearDup
          .simHashNearDupsAgainstCorpus(batch, hist, maxHamming = 3).count()
        flatPairs
      }
      timed(s"indexed_probe_${scale}x (per batch)") {
        idxPairs = graft.dedup.NearDup
          .simHashNearDupsAgainstIndex(batch, idx).count()
        idxPairs
      }
      require(flatPairs == idxPairs,
        s"indexed probe must equal flat probe: $idxPairs vs $flatPairs")
    }

    // ---- r17: the pile the STEADY LOOP actually accretes -------------
    // The one-shot build above writes ONE segment; a stream appends one
    // per micro-batch, so the probe ALSO pays listing + a small-file
    // open per (touched pkey × stored segment) — the ~4-5 s/batch
    // constant r16 attributed to exactly this. Build the same history
    // as 64 per-batch appends, probe (piled), fold with
    // compactSimHashIndex, probe again (folded): the folded probe must
    // return to the one-shot shape, pairs identical throughout.
    val nSegs = 64
    val segN = nHistory / nSegs
    // sized for the initial 64 segments PLUS the steady-state cycle's 16
    val hist = hashes(nHistory + 16L * segN, 0L).localCheckpoint()
    val segIdx = tmp.resolve("idx_piled").toString
    timed(s"append_${nSegs}_segments (once)") {
      graft.dedup.NearDup.writeSimHashIndex(
        hist.filter(col("id") < segN), segIdx, maxHamming = 3, parts = parts)
      (1 until nSegs).foreach { s =>
        graft.dedup.NearDup.appendSimHashIndex(
          hist.filter(col("id") >= s * segN && col("id") < (s + 1) * segN),
          segIdx, s.toLong, geometry = Some((3, parts)))
      }
      nHistory
    }
    var piledPairs = 0L
    var foldedPairs = 0L
    timed("piled_probe (per batch)") {
      piledPairs = graft.dedup.NearDup
        .simHashNearDupsAgainstIndex(batch, segIdx).count()
      piledPairs
    }
    timed("compact (maintenance, once per cadence)") {
      graft.dedup.NearDup.compactSimHashIndex(spark, segIdx, upTo = nSegs.toLong).toLong
    }
    timed("folded_probe (per batch)") {
      foldedPairs = graft.dedup.NearDup
        .simHashNearDupsAgainstIndex(batch, segIdx).count()
      foldedPairs
    }
    require(piledPairs == foldedPairs,
      s"folded probe must equal piled probe: $foldedPairs vs $piledPairs")

    // steady-state maintenance cycle: once the pile is folded, the NEXT
    // fold reads one fold + cadence-many small segments — that, not the
    // first-fold catch-up above, is the recurring cost a long stream
    // amortizes over its cadence. (The fold is a full rewrite of
    // history: amortized write cost per batch is |history| / cadence
    // rows — the documented trade; a geometric cadence bounds total
    // rewrite work at O(N log N) when that matters.)
    val cadence = 16
    timed(s"append_${cadence}_more (per cadence)") {
      (nSegs until nSegs + cadence).foreach { s =>
        graft.dedup.NearDup.appendSimHashIndex(
          hist.filter(col("id") >= s * segN && col("id") < (s + 1) * segN),
          segIdx, s.toLong, geometry = Some((3, parts)))
      }
      segN * cadence
    }
    timed("steady_fold (per cadence)") {
      graft.dedup.NearDup
        .compactSimHashIndex(spark, segIdx, upTo = (nSegs + cadence).toLong).toLong
    }
    var refoldedPairs = 0L
    timed("refolded_probe (per batch)") {
      refoldedPairs = graft.dedup.NearDup
        .simHashNearDupsAgainstIndex(batch, segIdx).count()
      refoldedPairs
    }
    require(refoldedPairs >= foldedPairs,
      s"history only grew: $refoldedPairs vs $foldedPairs")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    spark.stop()
  }
}
