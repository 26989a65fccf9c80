package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.derive.Fmp
import graft.derive.Fmp.{Leaf, Split}

/** Tree-ensemble model apply: the Column compiler and the SQL rendering must
  * route identically — including the XGBoost-style default-right NULL path —
  * because the DuckDB oracle scores with the rendered SQL.
  */
class FmpSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  private val tree = Split("a", 5, Leaf(0.25), Split("b", 0, Leaf(-0.5), Leaf(0.0625)))

  test("treeColumn routes splits, sums margins, and sends NULL right") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(3L), Some(-1L)),  // a<5  -> 0.25
      (2L, Some(7L), Some(-1L)),  // a>=5, b<0 -> -0.5
      (3L, Some(7L), Some(2L)),   // a>=5, b>=0 -> 0.0625
      (4L, None, Some(2L))        // a NULL -> right -> b>=0 -> 0.0625
    ).toDF("id", "a", "b")
    val scored = Fmp.scoreTrees(df, Seq(tree), idCol = "id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(scored(1L) == ((0.25, 1)))
    assert(scored(2L) == ((-0.5, 0)))
    assert(scored(3L) == ((0.0625, 1)))
    assert(scored(4L) == ((0.0625, 1)))
  }

  test("treeSql renders the same routing in Spark SQL (NULL comparison falls to ELSE)") {
    import spark.implicits._
    Seq((Some(3L), Some(-1L)), (Some(7L), Some(-1L)), (Some(7L), Some(2L)),
      (Option.empty[Long], Some(2L)))
      .toDF("a", "b").createOrReplaceTempView("t")
    val viaSql = spark.sql(s"SELECT ${Fmp.treeSql(tree)} AS m FROM t")
      .collect().map(_.getDouble(0)).toSeq
    assert(viaSql == Seq(0.25, -0.5, 0.0625, 0.0625))
  }

  test("demo ensemble weights are dyadic (exact cross-engine sums)") {
    def leaves(t: Fmp.Tree): Seq[Double] = t match {
      case Leaf(w) => Seq(w)
      case Split(_, _, l, r) => leaves(l) ++ leaves(r)
    }
    Fmp.DemoEnsemble.flatMap(leaves).foreach { w =>
      val scaled = w * 1024
      assert(scaled == scaled.floor, s"non-dyadic leaf weight $w")
    }
  }
}
