package graft.ops

import org.apache.spark.sql.SparkSession

/** Test fixtures for the version log: plant what a crashed writer
  * leaves behind, and read an artifact's on-disk state. */
object Unpublished {

  /** A writer on the latest version that adds rows to each of `stores`
    * (copies of the store's own rows, under its own layout — if they
    * ever served, answers would change) and, with `scratch`, a staged
    * intermediate, then CRASHES: it never publishes. */
  def plant(spark: SparkSession, dir: String, stores: Seq[String],
      scratch: Boolean = true): Unit = {
    val v = IdStore.latest(spark, dir)
    val w = IdStore.open(spark, dir, Nil)(())
    if (scratch) v.read(spark, stores.head).limit(5).write.parquet(w.scratch())
    stores.foreach { s =>
      val partition = v.files.keys.filter(_.startsWith(s + "/"))
        .map(_.split('/')(1)).find(_.contains('=')).map(_.takeWhile(_ != '='))
      val rows = v.read(spark, s).limit(40)
      w.add(s)(p => partition.fold(rows.write)(rows.write.partitionBy(_)).parquet(p))
    }
  }

  /** Every file under `dir`, hidden ones included, with its length. */
  def listing(dir: String): Set[(String, Long)] = {
    val out = Set.newBuilder[(String, Long)]
    def walk(f: java.io.File, rel: String): Unit =
      Option(f.listFiles()).foreach(_.foreach { c =>
        val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
        if (c.isDirectory) walk(c, r) else out += (r -> c.length())
      })
    walk(new java.io.File(dir), "")
    out.result()
  }

  /** Data files on disk that neither the latest version nor its
    * predecessor names — what a writer's cleanup leaves must be empty
    * (Spark's hidden `_`/`.` files and the log itself aside). */
  def unnamed(spark: SparkSession, dir: String): Set[String] = {
    val v = IdStore.latest(spark, dir)
    val previous = new java.io.File(s"$dir/_versions/${v.n - 1}")
    val named = v.files.keySet ++ (if (!previous.exists) Nil else {
      val src = scala.io.Source.fromFile(previous, "UTF-8")
      try src.getLines().drop(1).map(l => l.substring(0, l.lastIndexOf('\t'))).toList
      finally src.close()
    })
    listing(dir).map(_._1).filterNot(f =>
      f.split('/').exists(n => n.startsWith("_") || n.startsWith(".")) || named(f))
  }
}
