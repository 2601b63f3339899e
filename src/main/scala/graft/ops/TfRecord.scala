package graft.ops

import java.io.ByteArrayOutputStream
import java.util.zip.CRC32C

import graft.core.Refusal

/** TFRecord shard container (the TensorFlow training-data format; framing
  * from the public TFRecord/riegeli docs): each record is
  *
  *   uint64 length (LE) | uint32 masked_crc32c(length bytes) (LE)
  *   | data[length]     | uint32 masked_crc32c(data) (LE)
  *
  * with mask(crc) = ((crc >>> 15) | (crc << 17)) + 0xa282ead8 (mod 2³²)
  * over CRC32-Castagnoli (the JDK's `CRC32C`). The payload is opaque
  * bytes — real pipelines put tf.Example protos there; this engine's
  * shards carry the same JSONL documents the other containers do.
  *
  * Contract matches [[Zip]]/[[Tar]]/[[Avro]]/[[Zstd]]: deterministic
  * writer, strict reader (BOTH checksums verified per record, a declared
  * length is checked against the remaining bytes and the shared
  * [[graft.core.Budget]] before any allocation), and typed fail-stop
  * refusals (`bad_length_crc` / `bad_data_crc` / `too_large` /
  * `truncated`) the safe scans turn into one error row per rotten shard.
  */
object TfRecord {

  private def maskedCrc(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C()
    c.update(bytes, off, len)
    val crc = c.getValue // 32-bit value in a long
    ((((crc >>> 15) | (crc << 17)) + 0xa282ead8L) & 0xffffffffL).toInt
  }

  private def writeIntLE(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  /** Serialize records into one shard. */
  def write(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream(records.map(_.length + 16).sum)
    records.foreach { r =>
      val len = new Array[Byte](8)
      var i = 0
      var n = r.length.toLong
      while (i < 8) { len(i) = (n & 0xff).toByte; n >>>= 8; i += 1 }
      out.write(len, 0, 8)
      writeIntLE(out, maskedCrc(len, 0, 8))
      out.write(r, 0, r.length)
      writeIntLE(out, maskedCrc(r, 0, r.length))
    }
    out.toByteArray
  }

  /** Strict read: all records, or a typed [[graft.core.Refusal]]. */
  def read(bytes: Array[Byte]): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var pos = 0
    def u32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    while (pos < bytes.length) {
      if (bytes.length - pos < 12)
        throw new Refusal("truncated", "tfrecord header ends early")
      if (u32(pos + 8) != maskedCrc(bytes, pos, 8))
        throw new Refusal("bad_length_crc", "length checksum mismatch")
      var len = 0L
      var i = 7
      while (i >= 0) { len = (len << 8) | (bytes(pos + i) & 0xffL); i -= 1 }
      if (len > graft.core.Budget.maxInflatedBytes)
        throw new Refusal("too_large",
          s"tfrecord declares $len bytes past the budget")
      pos += 12
      if (len > bytes.length - pos - 4)
        throw new Refusal("truncated", "tfrecord data ends early")
      val n = len.toInt
      if (u32(pos + n) != maskedCrc(bytes, pos, n))
        throw new Refusal("bad_data_crc", "data checksum mismatch")
      out += java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n + 4
    }
    out.result()
  }

  /** `Right(records)` or `Left(errorKind)` — the one-error-row contract. */
  def readSafe(bytes: Array[Byte]): Either[String, Vector[Array[Byte]]] =
    Refusal.attempt(read(bytes), "truncated")
}
