package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** The seeded inputs `run.py` generated for a run, read from JSON. */
final class Plan(val root: JsonNode) {
  def strings(k: String): Seq[String] = root.get(k).elements().asScala.map(_.asText).toSeq
  def ints(k: String): Seq[Int] = root.get(k).elements().asScala.map(_.asInt).toSeq
  def int(k: String): Int = root.get(k).asInt
  def node(k: String): JsonNode = root.get(k)
}

object Plan {
  private val mapper = new ObjectMapper()
  def read(path: String): Plan = new Plan(mapper.readTree(new java.io.File(path)))
}
