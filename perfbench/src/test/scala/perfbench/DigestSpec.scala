package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  test("the result digest does not depend on row order or partitioning") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    try {
      import spark.implicits._
      val df = (1 to 200).map(i => (i.toLong, s"v$i", i * 0.5, Map(i -> s"m$i")))
        .toDF("a", "b", "c", "d")
      val d0 = Runner.digest(df)
      assert(d0._1 == 200L)
      assert(Runner.digest(df.orderBy($"a".desc)) == d0)
      assert(Runner.digest(df.repartition(7)) == d0)
      assert(Runner.digest(df.filter($"a" =!= 17L)) != d0)
      // a repeated column name is digested by position
      assert(Runner.digest(df.select($"a", $"a")) ==
        Runner.digest(df.select($"a", $"a".as("b"))))
    } finally spark.stop()
  }
}
