package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Idempotent, path-keyed blob sink — the engine form of the reference's
  * GitHub contents-API upload (`/root/reference/test.py:62-93`): GET the
  * existing object's version, PUT with that version to overwrite, create
  * otherwise; per-record failures become error rows, never task aborts.
  *
  * The transport is pluggable (`BlobStore`) so the sink logic —
  * partition-local connection reuse, upsert-by-key idempotency (safe
  * under Spark task retries, exactly like the reference's sha-overwrite),
  * row-level error capture — is testable hermetically; a real HTTP store
  * plugs in without touching the operator. The reference's
  * `verify=False` TLS bypass (`test.py:70,87`) is deliberately NOT
  * reproduced.
  */
object IdempotentBlobSink {

  /** One logical remote object store. Implementations must be cheap to
    * construct per partition (or internally pool).
    */
  trait BlobStore extends AutoCloseable {
    /** Current version token of `path`, if the object exists. */
    def currentVersion(path: String): Option[String]
    /** Create or overwrite; `expectedVersion` carries the token from
      * `currentVersion` for conditional overwrite. Returns the stored
      * object's URL or an error message.
      */
    def put(path: String, bytes: Array[Byte], expectedVersion: Option[String]): Either[String, String]
    def close(): Unit = ()
  }

  val resultSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("url", StringType),
    StructField("error", StringType)))

  /** Upload every row's `contentCol` to `pathCol`, one store per
    * partition, returning (path, url, error) per row. All rows are
    * attempted; failures surface as `error` values (reference
    * `test.py:89-91`). The result frame is lazy: materialize it (a
    * `noop` write will do) when the upload itself is the effect.
    *
    * Driven per micro-batch of a checkpointed file stream, this is the
    * reference's rerun contract end to end: the checkpoint gives
    * at-least-once batch delivery of only the files it has not seen,
    * and the path-keyed upsert makes a redelivered batch idempotent,
    * so together they are effectively exactly-once to the remote store
    * (the reference gets the same from its processed-keyset skip plus
    * sha-conditioned overwrite, `test.py:99-111,70-81`).
    */
  private[graft] def upload(df: DataFrame, pathCol: String, contentCol: String,
      storeFactory: () => BlobStore): DataFrame = {
    val spark = df.sparkSession
    val slim = df.select(col(pathCol).cast("string").as("p"), col(contentCol).as("c"))
    val rdd = slim.rdd.mapPartitions { rows =>
      val store = storeFactory()
      val out = rows.map { r =>
        val path = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        // bounded retry with backoff: transient transport failures are
        // retried; the path-keyed upsert makes retries idempotent
        var remaining = 2
        var backoffMs = 50L
        var result: Row = null
        while (result == null) {
          val outcome =
            try {
              val version = store.currentVersion(path)
              store.put(path, bytes, version) match {
                case Right(url) => Right(Row(path, url, null))
                case Left(err)  => Left(err)
              }
            } catch {
              // e.toString, not getMessage: a message-less exception (NPE)
              // would record error = null and read as a SUCCESSFUL upload
              // to callers filtering col("error").isNotNull
              case e: Exception => Left(e.toString)
            }
          outcome match {
            case Right(row) => result = row
            case Left(err) if remaining > 0 =>
              remaining -= 1; Thread.sleep(backoffMs); backoffMs *= 2
            case Left(err) => result = Row(path, null, err)
          }
        }
        result
      }
      // drain fully before closing the store
      val materialized = out.toVector
      store.close()
      materialized.iterator
    }
    spark.createDataFrame(rdd, resultSchema)
  }
}
