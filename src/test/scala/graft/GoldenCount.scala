package graft

import org.scalatest.Outcome
import scala.collection.mutable

/** Counts a suite's golden tests, those that call [[assumeGolden]], and
  * how many of them were canceled because the reference goldens they
  * read are absent. After the suite it prints one line, `<Suite>: n of m
  * golden tests canceled: the reference goldens under <dirs> are
  * absent`, so a dark anchor shows beside the suite's pass count. */
trait GoldenCount extends SparkSpec {

  private var goldenTests, goldenCanceled = 0
  private var isGolden = false
  private val absent = mutable.LinkedHashSet.empty[String]

  /** Marks the running test golden, and cancels it unless the reference
    * results directory `base` holds its input points. */
  def assumeGolden(base: String): Unit = {
    isGolden = true
    val found = new java.io.File(s"$base/input/points.csv").exists()
    if (!found) absent += base
    assume(found, s"the reference goldens under $base are absent")
  }

  override def withFixture(test: NoArgTest): Outcome = {
    isGolden = false
    val outcome = super.withFixture(test)
    if (isGolden) goldenTests += 1
    if (isGolden && outcome.isCanceled) goldenCanceled += 1
    outcome
  }

  override def afterAll(): Unit = {
    val why = if (absent.isEmpty) "" else absent.mkString(": the reference goldens under ", ", ", " are absent")
    println(s"${getClass.getSimpleName}: $goldenCanceled of $goldenTests golden tests canceled$why")
    super.afterAll()
  }
}
