package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def writeFile(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, v)
  }

  def readFile(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])

  def readList(path: String): Seq[Map[String, Any]] =
    mapper.readValue(new java.io.File(path), classOf[Seq[Map[String, Any]]])
}
