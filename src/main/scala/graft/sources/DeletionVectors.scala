package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** PERSISTED DELETION VECTORS — the compact position-delete encoding
  * (Iceberg v3 deletion vectors / Delta DVs, in spirit): one small
  * binary blob per delete COMMIT holding, per referenced data file,
  * its sorted deleted row indexes. Compared to the parquet
  * `(file_path, pos)` row encoding this removes the per-row columnar
  * framing (a DV of a few thousand positions is one buffer read, no
  * footer/row-group machinery), and the scan reads only the section
  * of the data file it is reading ([[readFor]], one per task) — no
  * join, no shuffle.
  *
  * Wire format (`*.dv`, version tag in the magic):
  * {{{
  *   int32  magic 'G''D''V''1'
  *   int32  nFiles
  *   repeat nFiles times:
  *     int32  pathLen, UTF-8 path bytes   (the manifest's data-file path)
  *     int64  nPos
  *     int64 × nPos ascending positions
  * }}}
  * Plain big-endian java.io framing: the blobs are control-plane-small
  * (8 B/position) and write-once; successive delete commits marking
  * the same data file stay DISJOINT by the delete-aware-marking
  * invariant, so multi-blob merge is concat + sort.
  *
  * Manifest integration is free: a DV registers as an ordinary
  * [[DeleteFile]] (path, bytes, per-file counts) — expire / orphan
  * GC / metadata tables / commit guards all key on path and counts
  * and never open the blob. Readers dispatch on the `.dv` suffix;
  * parquet-encoded position deletes from older commits read through
  * the same per-file mark set, and the two forms coexist in one
  * snapshot.
  */
private[sources] object DeletionVectors {

  private val Magic = 0x47445631 // 'G' 'D' 'V' '1'

  def isVector(path: String): Boolean = path.endsWith(".dv")

  /** Serialize one delete commit's marks (positions need not arrive
    * sorted; they are sorted here, once, at write). */
  def write(path: Path, marks: collection.Map[String, Array[Long]]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(path)))
    try {
      out.writeInt(Magic)
      out.writeInt(marks.size)
      marks.toSeq.sortBy(_._1).foreach { case (p, ps) =>
        val pb = p.getBytes(StandardCharsets.UTF_8)
        out.writeInt(pb.length)
        out.write(pb)
        val sorted = ps.sorted
        out.writeLong(sorted.length.toLong)
        sorted.foreach(out.writeLong)
      }
    } finally out.close()
  }

  /** Decode one blob: data-file path → ascending positions. */
  def read(path: String): Map[String, Array[Long]] = {
    val in = new DataInputStream(new BufferedInputStream(
      Files.newInputStream(Paths.get(path))))
    try {
      require(in.readInt() == Magic, s"$path is not a graft deletion vector")
      val n = in.readInt()
      (0 until n).map { _ =>
        val pb = new Array[Byte](in.readInt())
        in.readFully(pb)
        val cnt = in.readLong()
        val ps = new Array[Long](cnt.toInt)
        var i = 0
        while (i < ps.length) { ps(i) = in.readLong(); i += 1 }
        new String(pb, StandardCharsets.UTF_8) -> ps
      }.toMap
    } finally in.close()
  }

  /** One data file's positions from one blob — the executor-side read
    * ([[GraftReaderFactory]] partitions ship (dv path, data path));
    * non-matching sections skip without materializing. */
  def readFor(dvPath: String, dataPath: String): Array[Long] = {
    val in = new DataInputStream(new BufferedInputStream(
      Files.newInputStream(Paths.get(dvPath))))
    try {
      require(in.readInt() == Magic, s"$dvPath is not a graft deletion vector")
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val pb = new Array[Byte](in.readInt())
        in.readFully(pb)
        val cnt = in.readLong()
        if (new String(pb, StandardCharsets.UTF_8) == dataPath) {
          val ps = new Array[Long](cnt.toInt)
          var j = 0
          while (j < ps.length) { ps(j) = in.readLong(); j += 1 }
          return ps
        }
        var skip = cnt * 8L
        while (skip > 0) skip -= in.skip(skip)
        i += 1
      }
      Array.emptyLongArray
    } finally in.close()
  }
}
