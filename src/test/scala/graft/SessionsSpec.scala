package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session factory: the suite plans under the bench's session
  * policy, and no other source file builds its own session.
  */
class SessionsSpec extends SparkSpec {

  test("the suite's session carries the factory's AQE coalescing values") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      == "false")
    assert(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      == "64m")
    assert(Sessions.ParallelismFirst == "false" &&
      Sessions.AdvisoryPartitionSize == "64m")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("only Sessions.scala builds a SparkSession under src/") {
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val walk = Files.walk(Paths.get("src"))
    val builders = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).nonEmpty)
      .map((p: Path) => p.getFileName.toString).toSeq
    finally walk.close()
    assert(builders == Seq("Sessions.scala"), builders)
  }
}
