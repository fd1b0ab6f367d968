package graft.multimodal

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Every media table and every decode stage, table-driven over the
  * codecs: the meta struct each table carries, and decode rows that do
  * not depend on how the payloads are partitioned (which covers the audio
  * decoders' per-partition reader across partition boundaries). */
class MediaCodecSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  /** Each fixture kind's MIME string, pinned here independently of the
    * codec values. */
  private val mimes = Map(
    "png" -> "image/png", "jpeg" -> "image/jpeg", "wav" -> "audio/wav",
    "gif" -> "image/gif", "avi_mjpeg" -> "video/x-msvideo",
    "wav_adpcm" -> "audio/x-adpcm", "h264_ipcm_v2" -> "video/h264",
    "wav_near" -> "audio/wav", "png_near" -> "image/png")

  test("the codec table covers exactly the pinned fixture kinds") {
    assert(Multimodal.codecs.map(_.kind).sorted === mimes.keys.toSeq.sorted)
  }

  Multimodal.codecs.foreach { codec =>
    test(s"${codec.kind} media table carries its format, source and byte length") {
      val m = Multimodal.media(spark, dir, codec)
      assert(m.count() === 500L)
      val bad = m.filter(
        col("meta.format") =!= mimes(codec.kind) ||
          col("meta.source") =!= "synthetic" ||
          col("meta.byte_len") =!= length(col("payload")).cast("long") ||
          col("meta.byte_len") <= 0)
      assert(bad.count() === 0L)
    }
  }

  private val decodes: Seq[(String, Multimodal.Codec, DataFrame => DataFrame)] = Seq(
    ("extractFeatures", Multimodal.png, m =>
      Multimodal.extractFeatures(m, 8).toDF()
        .select(col("media_id"), col("byte_len"),
          to_json(col("features")).as("features"))),
    ("decodeImageFeatures", Multimodal.png,
      Multimodal.decodeImageFeatures(_).toDF()),
    ("decodeImageFeatures stride 4", Multimodal.png,
      Multimodal.decodeImageFeatures(_, 4).toDF()),
    ("decodeJpegFeatures", Multimodal.jpeg,
      Multimodal.decodeJpegFeatures(_).toDF()),
    ("decodeAudioFeatures", Multimodal.wav,
      Multimodal.decodeAudioFeatures(_).toDF()),
    ("decodeVideoFeatures", Multimodal.gif,
      Multimodal.decodeVideoFeatures(_).toDF()),
    ("decodeMjpegFeatures", Multimodal.aviMjpeg,
      Multimodal.decodeMjpegFeatures(_).toDF()),
    ("decodeAdpcmFeatures", Multimodal.wavAdpcm,
      Multimodal.decodeAdpcmFeatures(_).toDF()),
    ("decodeH264Features", Multimodal.h264,
      Multimodal.decodeH264Features(_).toDF()),
    ("decodeAudioFingerprint", Multimodal.wavNear,
      Multimodal.decodeAudioFingerprint(_).toDF()),
    ("decodeDhash", Multimodal.pngNear, Multimodal.decodeDhash(_).toDF()))

  test("the decode table covers every codec") {
    assert(decodes.map(_._2.kind).toSet === Multimodal.codecs.map(_.kind).toSet)
  }

  decodes.foreach { case (name, codec, decode) =>
    test(s"$name rows are the same on 2 and on 7 partitions") {
      val m = Multimodal.media(spark, dir, codec)
      def rows(n: Int): Seq[Row] =
        decode(m.repartition(n)).collect().toSeq.sortBy(_.getLong(0))
      val two = rows(2)
      assert(two.size === 500)
      assert(two.map(_.getLong(0)).distinct.size === 500)
      assert(rows(7) === two)
    }
  }
}
