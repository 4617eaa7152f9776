package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's "Tuning knobs" table must list exactly the `spark.graft.*`
  * confs the engine reads: each `"spark.graft.` string literal under
  * `src/main` needs a table row, and each row must name such a literal,
  * so a deleted knob cannot linger in the table. */
class ReadmeKnobsSpec extends AnyFunSuite {

  test("README's knob table lists every spark.graft.* key read in src/main") {
    val Key = "\"(spark\\.graft\\.[A-Za-z0-9.]+)\"".r
    val keys = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Key.findAllMatchIn(java.nio.file.Files.readString(p)).map(_.group(1)))
      .toSet
    assert(keys.nonEmpty)
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val rows = "(?m)^\\| `(spark\\.graft\\.[A-Za-z0-9.]+)` \\|".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    assert((keys -- rows).isEmpty, s"keys missing from README's knob table: ${keys -- rows}")
    assert((rows -- keys).isEmpty, s"README knob rows no key in src/main reads: ${rows -- keys}")
  }
}
