package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact ordinary least squares of y on x over integer grid points —
  * the fit of [[TextOps.heapsFit]], [[TextOps.zipfSlope]] and
  * [[EventOps.typeTrend]]. The sufficient statistics n, Σx, Σy, Σxy,
  * Σx², Σy² are integer sums in DECIMAL(38,0) (HUGEINT in the DuckDB
  * twin), so the slope and r2 numerators and denominators are exact
  * and floats enter only at the final divisions — single IEEE ops,
  * identical in both engines. A degenerate fit reads NULL instead of
  * dividing by zero (ANSI Spark raises where DuckDB may emit ±inf):
  * slope when every x is equal (den = 0), r2 also when every y is
  * equal (deny = 0). */
private[ops] object LeastSquares {
  private val Dec = DecimalType(38, 0)

  /** DECIMAL → DOUBLE through its exact decimal string. */
  def dbl(c: Column): Column = c.cast("string").cast("double")

  /** n, sx, sy, sxy, sxx, syy of the long columns `x`, `y`, per `keys`. */
  def sums(xy: DataFrame, keys: String*): DataFrame =
    xy.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(Dec)).as("sx"),
      sum(col("y").cast(Dec)).as("sy"),
      sum((col("x") * col("y")).cast(Dec)).as("sxy"),
      sum((col("x") * col("x")).cast(Dec)).as("sxx"),
      sum((col("y") * col("y")).cast(Dec)).as("syy"))

  private val nd = col("n").cast(Dec)
  private val num = nd * col("sxy") - col("sx") * col("sy")
  private val den = nd * col("sxx") - col("sx") * col("sx")
  private val deny = nd * col("syy") - col("sy") * col("sy")

  /** The slope over [[sums]]' columns, mapped through `per` (a unit
    * change) inside the den = 0 guard. */
  def slope(per: Column => Column = c => c): Column =
    when(den === 0, lit(null).cast("double"))
      .otherwise(per(dbl(num) / dbl(den)))

  /** r2 over [[sums]]' columns. */
  val r2: Column =
    when(den === 0 || deny === 0, lit(null).cast("double"))
      .otherwise(dbl(num) * dbl(num) / (dbl(den) * dbl(deny)))

  /** (n, slope AS `slopeAs`, r2) of the one fit over all of `xy`. */
  def fit(xy: DataFrame, slopeAs: String): DataFrame =
    sums(xy).select(col("n"), slope().as(slopeAs), r2.as("r2"))

  /** SQL twin of [[fit]]: CTE `st` over a CTE `xy(x, y)`, then the
    * query's closing SELECT of (n, slope AS `slopeAs`, r2). */
  def fitSql(slopeAs: String): String =
    s"""st AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(x * y AS HUGEINT)) AS sxy,
       |    SUM(CAST(x * x AS HUGEINT)) AS sxx,
       |    SUM(CAST(y * y AS HUGEINT)) AS syy
       |  FROM xy)
       |SELECT n,
       |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       |    ELSE CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       |      / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
       |  END AS $slopeAs,
       |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
       |    ELSE CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       |      * CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       |      / (CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
       |         * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))
       |  END AS r2
       |FROM st""".stripMargin
}
