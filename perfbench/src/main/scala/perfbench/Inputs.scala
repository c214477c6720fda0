package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. The same seed always yields the same rows; the
  * engine sees only these DataFrames.
  */
object Inputs {

  /** Words of TPC-H `p_name` (a part name is five of them). */
  private val Colors = Vector(
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black", "blanched",
    "blue", "blush", "brown", "burlywood", "burnished", "chartreuse", "chiffon",
    "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan", "dark", "deep",
    "dim", "dodger", "drab", "firebrick", "floral", "forest", "frosted", "gainsboro",
    "ghost", "goldenrod", "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki",
    "lace", "lavender", "lawn", "lemon", "light", "lime", "linen", "magenta", "maroon",
    "medium", "metallic", "midnight", "mint", "misty", "moccasin", "navajo", "navy",
    "olive", "orange", "orchid", "pale", "papaya", "peach", "peru", "pink", "plum",
    "powder", "puff", "purple", "red", "rose", "rosy", "royal", "saddle", "salmon",
    "sandy", "seashell", "sienna", "sky", "slate", "smoke", "snow", "spring", "steel",
    "tan", "thistle", "tomato", "turquoise", "violet", "wheat", "white", "yellow")

  private val Types = Vector("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val Finishes = Vector("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val Metals = Vector("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")

  /** The stored side of `kv_join`: `part` as the key-value store holds it,
    * `(key, value)` with the other columns as one '|'-delimited payload.
    */
  def part(spark: SparkSession, seed: Long, parts: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = (1 to parts).map { k =>
      val name = Seq.fill(5)(Colors(rnd.nextInt(Colors.size))).mkString(" ")
      val brand = s"Brand#${1 + rnd.nextInt(5)}${1 + rnd.nextInt(5)}"
      val ptype = Seq(Types, Finishes, Metals).map(v => v(rnd.nextInt(v.size))).mkString(" ")
      val price = 900.0 + (k % 1000) + rnd.nextInt(100) / 100.0
      (k.toLong, s"$name|$brand|$ptype|${1 + rnd.nextInt(50)}|$price")
    }
    spark.createDataFrame(rows).toDF("key", "value")
  }

  /** A seeded `share` of the part keys: the rows the cache starts with. */
  def cacheSeed(part: DataFrame, seed: Long, share: Double): DataFrame = {
    val rnd = new Random(seed ^ 0x5ca1ab1eL)
    val keys = part.sparkSession.createDataFrame(
      (1L to part.count()).filter(_ => rnd.nextDouble() < share).map(Tuple1(_))).toDF("key")
    part.join(keys, Seq("key"), "left_semi")
  }

  /** The stream side of `kv_join`: `lineitem` rows in TPC-H's shape, the
    * part key (named `key`, the join column) uniform over the parts.
    */
  def lineitem(spark: SparkSession, seed: Long, rows: Int, parts: Int): DataFrame = {
    val rnd = new Random(seed)
    val data = (0 until rows).map { i =>
      val qty = 1 + rnd.nextInt(50)
      (i.toLong, 1L + i / 4, 1L + rnd.nextInt(parts), qty.toDouble,
        qty * (900.0 + rnd.nextInt(1100)), rnd.nextInt(11) / 100.0)
    }
    spark.createDataFrame(data)
      .toDF("l_rowid", "l_orderkey", "key", "l_quantity", "l_extendedprice", "l_discount")
  }

  /** The 31 words the `documents` table's texts are made of. */
  private val DocWords = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** A corpus in the shape of the `documents` table, `(doc_id, text)`: each
    * text is 10 to 100 words (uniform) drawn uniformly from `DocWords`, as
    * in the table. Over so small a vocabulary most texts share most of their
    * word set, so about a quarter of all ordered pairs reach Jaccard 0.8,
    * the density of the table itself (60,656 pairs among 500 docs).
    */
  def documents(spark: SparkSession, seed: Long, docs: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = (0 until docs).map { i =>
      (i.toLong, Seq.fill(10 + rnd.nextInt(91))(DocWords(rnd.nextInt(DocWords.size))).mkString(" "))
    }
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }
}
