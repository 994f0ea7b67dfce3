package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star extension): image/audio/video
  * payloads ride as opaque `binary` columns next to their media type.
  */
object Multimodal {

  /** Attach a binary payload column synthesized from a text column —
    * the stand-in for reading real media files; keeps the pipeline
    * runnable on the synthetic corpus. */
  def attachPayload(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id).cast("long").as("media_id"),
      col(text).cast("binary").as("payload"),
      when(col(id) % 3 === 0, "image/png")
        .when(col(id) % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("media_type"))
}
