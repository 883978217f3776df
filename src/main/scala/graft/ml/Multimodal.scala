package graft.ml

import org.apache.spark.sql.Dataset

/** A multimodal asset: opaque media bytes + typed metadata (the Spark-side
  * schema for image/audio/video columns at corpus scale). */
final case class MediaAsset(asset_id: Long, kind: String, media: Array[Byte],
                            width: Int, height: Int, sample_rate: Int)

final case class MediaFeatures(asset_id: Long, kind: String, n_bytes: Long,
                               content_hash: Long, features: Array[Float])

/** Multimodal-column plumbing: schema, partitioning, batch shape, and
  * feature-extraction pipeline over opaque `binary` media columns.
  *
  * REAL codecs live in [[MediaCodec]]: PNG/BMP images and WAV audio
  * (driver-oracled as q45) and multi-frame animated-GIF video with frame
  * explosion (q50) — all pure-JVM `javax.imageio`/hand-rolled, no native
  * libraries. The deterministic stub here remains ONLY as the documented
  * seam for inter-frame-compressed codecs (H.264/VP9/AAC), which require
  * native decoders this offline container cannot install; the plumbing the
  * stub exercises — the typed schema, the mapPartitions batch shape
  * (mirroring a Pandas-UDF/Arrow batch boundary: per-partition iterator,
  * decoder state reused across rows, no per-row library init), column
  * pruning (media bytes are only read in the decode stage) — is the same
  * plumbing the real codecs run on.
  */
object Multimodal {

  /** Deterministic fake "media" bytes: 16-byte header (kind tag, width,
    * height, sample rate) + seeded payload. Stands in for real
    * JPEG/WAV/MP4 bytes in tests and benchmarks. */
  def fakeMedia(id: Long, kind: String): Array[Byte] = {
    val rng = new java.util.Random(id * 0x9E3779B97F4A7C15L)
    val w = 16 + rng.nextInt(64); val h = 16 + rng.nextInt(64)
    val sr = if (kind == "audio") 8000 + 100 * rng.nextInt(10) else 0
    val payload = new Array[Byte](64 + rng.nextInt(192))
    rng.nextBytes(payload)
    val bb = java.nio.ByteBuffer.allocate(16 + payload.length)
    bb.putInt(kind.hashCode).putInt(w).putInt(h).putInt(sr).put(payload)
    bb.array()
  }

  /** STUB decoder — deterministic fake in place of a real image/audio codec.
    * Parses the fake header and derives a fixed-size feature vector from the
    * payload bytes. Replace with a real codec to productionize. */
  def decodeStub(media: Array[Byte], dim: Int = 8): (Int, Int, Int, Array[Float]) = {
    val bb = java.nio.ByteBuffer.wrap(media)
    bb.getInt() // kind tag
    val w = bb.getInt(); val h = bb.getInt(); val sr = bb.getInt()
    // accumulate in double, narrow to float once: the per-asset feature is
    // then exactly `(sum of byte/255.0)::REAL` — SQL-reproducible for the
    // DuckDB oracle, and better-conditioned than float accumulation anyway
    val acc = new Array[Double](dim)
    var i = 16
    while (i < media.length) {
      acc((i - 16) % dim) += (media(i) & 0xFF) / 255.0
      i += 1
    }
    (w, h, sr, acc.map(_.toFloat))
  }

  /** Deterministic asset table (for tests/bench; in production this is the
    * ingested media table, partitioned by kind + bucket(asset_id) so decode
    * stages scan only the modality they need). */
  def generateAssets(spark: org.apache.spark.sql.SparkSession, n: Long): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.range(n).map { id =>
      val kind = if (id % 3 == 0) "audio" else "image"
      val media = fakeMedia(id, kind)
      // header ints only — running the full decodeStub feature loop here
      // just to discard the features doubles the generator's cost
      val bb = java.nio.ByteBuffer.wrap(media)
      MediaAsset(id, kind, media, bb.getInt(4), bb.getInt(8), bb.getInt(12))
    }
  }

  /** Feature extraction as a partition-batched map — the Arrow/Pandas-UDF
    * batch shape: decoder initialized once per partition, rows streamed. */
  def extractFeatures(assets: Dataset[MediaAsset], dim: Int = 8): Dataset[MediaFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.mapPartitions { it =>
      // (real codecs would init native state here, once per partition)
      it.map { a =>
        val (_, _, _, feats) = decodeStub(a.media, dim)
        MediaFeatures(a.asset_id, a.kind, a.media.length.toLong,
          scala.util.hashing.MurmurHash3.bytesHash(a.media, 42).toLong, feats)
      }
    }
  }
}
