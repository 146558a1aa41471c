package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The frozen layout of a persisted index: one JSON object of integer
  * parameters at `<root>/<file>` (`{"numBuckets":16}`,
  * `{"nlist":4,"m":2,"ksub":16,"dim":8}`). These values decide which
  * partition a row lands in, and so which partitions a probe may skip;
  * a root read or appended under other values would silently miss rows.
  * Keys are written in the order given, so the bytes are stable. */
final case class IndexMeta(file: String) {

  private def path(root: String) = new Path(s"$root/$file")

  /** The values of `keys`, in order. A missing file throws; a missing
    * or non-integer key throws naming the file. */
  def read(spark: SparkSession, root: String, keys: String*): Seq[Int] = {
    val in = IndexMeta.fileSystem(spark, root).open(path(root))
    val node = try IndexMeta.mapper.readTree(in) finally in.close()
    keys.map { k =>
      val v = node.get(k)
      if (v == null || !v.canConvertToInt)
        sys.error(s"malformed ${path(root)}: no integer \"$k\" in $node")
      v.intValue
    }
  }

  /** Write the layout, replacing any earlier (e.g. torn-build) one. */
  def write(spark: SparkSession, root: String, params: (String, Int)*): Unit = {
    val node = IndexMeta.mapper.createObjectNode()
    params.foreach { case (k, v) => node.put(k, v) }
    val fs = IndexMeta.fileSystem(spark, root)
    fs.mkdirs(new Path(root))
    val out = fs.create(path(root), true)
    try out.write(IndexMeta.mapper.writeValueAsBytes(node)) finally out.close()
  }

  /** Write the layout on first use; afterwards require the stored
    * values to equal `params`. */
  def freeze(spark: SparkSession, root: String, params: (String, Int)*): Unit =
    if (!IndexMeta.fileSystem(spark, root).exists(path(root)))
      write(spark, root, params: _*)
    else {
      val (keys, want) = params.unzip
      def show(vs: Seq[Int]) =
        keys.zip(vs).map { case (k, v) => s"$k=$v" }.mkString("/")
      val stored = read(spark, root, keys: _*)
      require(stored == want, s"index at $root is frozen with " +
        s"${show(stored)}; requested ${show(want)} would break its pruning")
    }
}

object IndexMeta {

  private val mapper = new ObjectMapper()

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** True only when every one of `paths` exists. */
  def exists(spark: SparkSession, paths: String*): Boolean =
    paths.forall(p => fileSystem(spark, p).exists(new Path(p)))
}
