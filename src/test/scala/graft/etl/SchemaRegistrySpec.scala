package graft.etl

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Durability of the schema registry: a save that dies part-way keeps the
  * previous entry, and a corrupt entry is refused by name instead of
  * reading as "no entry" (which would silently skip drift detection).
  */
class SchemaRegistrySpec extends AnyFunSuite {

  private def schema(id: String) = EngineSchema(id, "2023-11-14T22:13:20Z",
    Vector(FieldProfile("a", "integer", nullable = false, Vector(JInt(1)), 1.0)), Vector("a"))

  private def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.map(_.getFileName.toString).toArray(n => new Array[String](n)).toSeq.sorted
    finally s.close()
  }

  test("an interrupted save leaves the previous entry whole and no temp file") {
    val dir = Files.createTempDirectory("graft-registry")
    val reg = new SchemaRegistry(dir.toString)
    reg.save("src", schema("v1"))
    // the writing thread is interrupted: the interruptible file channel
    // closes under the write, as a save killed mid-write would
    Thread.currentThread().interrupt()
    val failure =
      try { reg.save("src", schema("v2")); None }
      catch { case e: java.io.IOException => Some(e) }
      finally Thread.interrupted()
    assert(failure.exists(_.isInstanceOf[java.nio.channels.ClosedByInterruptException]), failure)
    assert(reg.load("src").contains(schema("v1")))
    assert(listing(dir) == Seq("src_schema.json"))
    reg.save("src", schema("v2"))
    assert(reg.load("src").contains(schema("v2")))
    assert(listing(dir) == Seq("src_schema.json"))
  }

  test("a corrupt entry raises an error naming the file") {
    val dir = Files.createTempDirectory("graft-registry")
    val reg = new SchemaRegistry(dir.toString)
    assert(reg.load("src").isEmpty) // no entry is not an error
    reg.save("src", schema("v1"))
    val entry = dir.resolve("src_schema.json")
    for (bad <- Seq(schema("v1").render.take(25), "", "[1, 2]", "{\"schema_id\": 3}")) {
      Files.writeString(entry, bad)
      val e = intercept[SchemaRegistry.CorruptEntry](reg.load("src"))
      assert(e.file == entry)
      assert(e.getMessage.contains(entry.toString), e.getMessage)
    }
  }

  test("a source id that is not a plain file-name stem is refused by name") {
    val parent = Files.createTempDirectory("graft-registry")
    val dir = Files.createDirectory(parent.resolve("reg"))
    val reg = new SchemaRegistry(dir.toString)
    for (id <- Seq("../x", "a/b", "", ".x", "a\u0000b")) {
      val onSave = intercept[IllegalArgumentException](reg.save(id, schema("v1")))
      assert(onSave.getMessage.contains(s"'$id'"), onSave.getMessage)
      val onLoad = intercept[IllegalArgumentException](reg.load(id))
      assert(onLoad.getMessage.contains(s"'$id'"), onLoad.getMessage)
    }
    assert(listing(parent) == Seq("reg"))
    assert(listing(dir).isEmpty)
    // the ids the pipeline, the tests and the benchmark use
    for (id <- Seq("default_source", "src1", "orders")) {
      reg.save(id, schema(id))
      assert(reg.load(id).contains(schema(id)))
    }
    assert(listing(dir) ==
      Seq("default_source_schema.json", "orders_schema.json", "src1_schema.json"))
  }
}
