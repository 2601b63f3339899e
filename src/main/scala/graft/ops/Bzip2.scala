package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.commons.compress.compressors.bzip2.{
  BZip2CompressorInputStream, BZip2CompressorOutputStream}

/** bzip2 shard compression — the container long-lived public dumps
  * actually ship (Wikipedia database dumps are `.xml.bz2` / `.jsonl.bz2`;
  * pbzip2 emits CONCATENATED streams, which readers that stop at the
  * first footer silently truncate — same failure class the gzip member
  * walk in [[Zstd.decompressGzip]] exists to refuse).
  *
  * Both directions delegate to commons-compress, the bzip2 codec on
  * Spark's own classpath (the zstd-jni precedent). Bzip2Spec pins it to
  * libbz2: fixtures compressed by CPython's `bz2` decode bit-exact,
  * including a block with the deprecated `randomized` bit.
  *
  * Contract matches [[Zstd]]: deterministic writer (fixed level), strict
  * reader over every concatenated stream (trailing bytes that are not a
  * stream refuse), output capped mid-stream at
  * [[graft.core.Budget.maxInflatedBytes]] (RLE1's 255:4 expansion on top
  * of Huffman makes inflate bombs cheap), and typed fail-stop refusals
  * (`bad_magic` / `bad_frame` / `too_large`) the safe scans turn into one
  * error row per rotten shard.
  */
object Bzip2 {

  import graft.core.Refusal

  def isBzip2(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'B' && bytes(1) == 'Z' &&
      bytes(2) == 'h' && bytes(3) >= '1' && bytes(3) <= '9'

  /** Strict multi-stream decompress (concatenated `BZh` streams decode as
    * one payload, matching libbz2 / python `bz2.decompress` / pbzip2).
    */
  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isBzip2(bytes)) throw new Refusal("bad_magic", "not a bzip2 stream")
    graft.core.Budget.drain(
      new BZip2CompressorInputStream(new ByteArrayInputStream(bytes), true), "bzip2")
  }

  def decompressSafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompress(bytes))

  /** One deterministic bzip2 stream. `level` picks the 100 kB block-size
    * multiplier exactly as the reference tool's `-1`..`-9` flags do.
    */
  def compress(bytes: Array[Byte], level: Int = 1): Array[Byte] = {
    require(level >= 1 && level <= 9, s"level $level")
    // The encoder allocates about 1.3 MB per level for every stream, a
    // cost that dominates small shards. Data that fits one block encodes
    // to the same stream at every level that holds it, bar the level
    // digit in the header, so encode at the smallest such level (RLE1
    // grows data by at most 5/4) and stamp the requested one.
    val fits = math.min(level.toLong, (bytes.length.toLong * 5 / 4 + 20) / 100000 + 1).toInt
    val bos = new ByteArrayOutputStream(bytes.length / 4 + 64)
    val out = new BZip2CompressorOutputStream(bos, fits)
    out.write(bytes)
    out.close()
    val frame = bos.toByteArray
    frame(3) = ('0' + level).toByte
    frame
  }
}
