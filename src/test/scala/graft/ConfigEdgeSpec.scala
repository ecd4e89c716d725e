package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.config.TableKeys

/** Edge coverage for config loading and key-name candidates. */
class ConfigEdgeSpec extends AnyFunSuite {

  test("TableKeys.load reads a config file; empty/whitespace composite parts dropped") {
    val f = Files.createTempFile("keys", ".json")
    Files.writeString(f,
      """{"a": " x , y ", "b": "", "c": "id"}""")
    val tk = TableKeys.load(f.toString)
    assert(tk.keysFor("a").contains(Seq("x", "y")))
    // empty string ⇒ zero usable key columns
    assert(tk.keysFor("b").contains(Seq.empty))
    assert(tk.keysFor("c").contains(Seq("id")))
    assert(tk.withTable("d", None).keysFor("d").isEmpty)
  }

  test("candidate key names follow the reference order") {
    assert(TableKeys.candidateKeyNames("users") == Seq("id", "uuid", "users_id", "pk_id"))
    assert(TableKeys.autoDetect("users", Seq("pk_id", "uuid")).contains(Seq("uuid")))
    assert(TableKeys.autoDetect("users", Seq("nope")).isEmpty)
  }
}
