package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the loud-failure contract of the driver artifacts: a failing
  * query must leave a `_ERROR.txt` marker at a stable path (so the
  * driver's parquet read of that dir fails visibly) and the shared JSON
  * escaping must survive control characters in exception messages / SQL.
  */
class VerifyArtifactsSpec extends AnyFunSuite with TempDirs {

  test("writeError pins the marker at <outDir>/<name>/_ERROR.txt") {
    val out = tempDir("graft-verify-spec")
    val p: Path =
      Verify.writeError(out.toString, "events_hourly", "boom: analysis")
    assert(p === out.resolve("events_hourly").resolve("_ERROR.txt"))
    assert(Files.readString(p) === "boom: analysis")
    // repeat write (e.g. retried run) overwrites, does not throw
    Verify.writeError(out.toString, "events_hourly", "boom 2")
    assert(Files.readString(p) === "boom 2")
  }

  test("JsonUtil escapes quotes, backslashes, and control chars") {
    val ctl = 1.toChar
    assert(JsonUtil.quote("a\"b\\c\nd\te\rf" + ctl + "g") ===
      "\"a\\\"b\\\\c\\nd\\te\\rf\\u0001g\"")
    val obj = JsonUtil.obj(Seq("q1" -> "SELECT\t1", "q2" -> "x\"y"))
    // must parse as a flat string->string JSON object
    assert(obj === "{\"q1\": \"SELECT\\t1\",\"q2\": \"x\\\"y\"}")
    assert(JsonUtil.obj(Nil) === "{}")
  }
}
