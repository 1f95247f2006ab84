package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

object Io {
  private val mapper = new ObjectMapper()

  def readJson(p: Path): JsonNode = mapper.readTree(p.toFile)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Regular files under `p`, with their sizes. */
  def files(p: Path): Map[Path, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> Files.size(f)).toMap
      finally s.close()
    }

  def fields(n: JsonNode): Iterator[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue)
}
