package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.{NearDup, Text}

/** Streaming corpus curation: the near-duplicate GATE a training-data
  * ingest pipeline runs in front of the lake — every arriving
  * document is checked against the stream's history and flagged when
  * it near-duplicates an earlier document. Batch dedup answers "which
  * docs duplicate each other"; the gate answers the ingest-time
  * question "is THIS doc new", without re-scanning the corpus.
  *
  * Shape: MinHash banding runs as narrow per-row work inside the
  * stream (codegen shingles/signature, band explode), then ONE
  * stateful operator keyed by (band, band signature) holds each
  * bucket's member history and verifies candidates with exact
  * set-Jaccard — the same candidates-then-verify contract as the
  * batch [[graft.ops.NearDup]], on its band keys, so banding recall
  * carries over. A document is a duplicate iff ANY of its band
  * buckets verifies it against an earlier member (earlier = (event
  * time, doc id), made deterministic within a batch by sorting the
  * group).
  *
  * State: per-bucket member list (id, ts, shingles). Like any dedup-
  * against-history, state grows with the distinct corpus — the
  * unbounded deployment bounds it with a dedup horizon (event-time
  * timeout dropping members older than the horizon) or a compacted
  * store; the bounded-replay contract here keeps every member, which
  * is exactly the batch semantics the oracle replays. Hot buckets are
  * the same phenomenon as the batch op's hot-bucket cap and would be
  * capped identically in production.
  */
object CorpusStreams {

  final case class BandRow(doc_id: Long, ts_ms: Long, band: Int,
      band_sig: Long, sh: Seq[String])
  final case class Member(doc_id: Long, ts_ms: Long, sh: Seq[String])
  final case class BucketState(members: Seq[Member])
  final case class BandVerdict(doc_id: Long, band: Int, dup: Boolean)

  /** @param docs streaming frame with (doc_id, ts_utc, text)
    * @return streaming (doc_id, band, dup) — one verdict per band;
    *         a doc is dropped iff any band's verdict is dup
    */
  def nearDupGate(
      docs: DataFrame,
      threshold: Double = 0.5,
      watermark: String = "1 hour"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = docs
      .withWatermark("ts_utc", watermark)
      .withColumn("sh", graft.functions.shingles(Text.tokens(col("text")), NearDup.ShingleN))
      .withColumn("_sig", graft.functions.minhash_sig(col("sh"), NearDup.NumPerms))
      .select(col("doc_id"), unix_millis(col("ts_utc")).as("ts_ms"),
        NearDup.minhashBands(col("_sig")), col("sh"))
      .as[BandRow]

    banded
      .groupByKey(rw => (rw.band, rw.band_sig))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), it: Iterator[BandRow],
            state: GroupState[BucketState]) => {
          var members = state.getOption.map(_.members).getOrElse(Seq.empty)
          // sort the batch's group deterministically: "earlier" is
          // (event time, doc id), not arrival order
          val out = it.toSeq.sortBy(rw => (rw.ts_ms, rw.doc_id)).map { rw =>
            val mySh = rw.sh.toSet
            val dup = members.exists { m =>
              val a = m.sh.toSet
              val uni = a.union(mySh).size
              uni > 0 &&
                a.intersect(mySh).size.toDouble / uni.toDouble >= threshold
            }
            members = members :+ Member(rw.doc_id, rw.ts_ms, rw.sh)
            BandVerdict(rw.doc_id, rw.band, dup)
          }
          state.update(BucketState(members))
          out.iterator
        })
      .toDF()
  }
}
