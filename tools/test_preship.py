#!/usr/bin/env python3
"""Self-test for preship.py's declared-query collection and spec naming.

A registry file also holds `"name" -> value` pairs that are not declared
queries (pipeline StepSpec inputs and parameters, oracle maps); only the
keys inside the `val queries: Map[String, ...] = Map(...)` body may gate
Verify. A spec is run by its fully qualified class name, which follows
its package, not its file name; deleted files and files that define no
suite are not run at all.

Run: python3 tools/test_preship.py   (exit 0 = all cases hold)
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import preship

SNIPPET = '''
object Ops {
  val l1Pipe: Q = (s, d) => {
    val spec = PipelineSpec(Seq(
      StepSpec("docs", "source", params = Map("dir" -> d, "table" -> "documents")),
      StepSpec("clean", "sql", Map("docs" -> "docs"),
        Map("sql" -> "SELECT * FROM docs WHERE (n > 1)"))))
    run(spec)
  }

  // "commented" -> notAQuery
  val queries: Map[String, Q] = Map(
    "l1_pipe" -> l1Pipe,
    "l2_paren" -> wrap(")", l1Pipe)
  )

  val oracleSql: Map[String, String] = Map(
    "l1_pipe" -> "SELECT 1",
    "l3_oracle_only" -> "SELECT 2")
}
'''


def main():
    keys, types = preship.parse_registry(SNIPPET)
    cases = [
        ("only the queries map's keys", keys == {"l1_pipe", "l2_paren"}),
        ("top-level type still found", types == {"Ops"}),
        ("no queries map gates nothing",
         preship.parse_registry('object A { val m = Map("k" -> 1) }')[0]
         == set()),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        nested = os.path.join(tmp, "NestedSpec.scala")
        with open(nested, "w") as f:
            f.write("package graft\npackage deep\n\n"
                    "final class NestedSpec extends SparkSpec {}\n")
        cases += [
            ("sub-package spec named by its package",
             preship.spec_class("src/test/scala/graft/pipeline/StatusRecordSpec.scala")
             == "graft.pipeline.StatusRecordSpec"),
            ("top-level spec",
             preship.spec_class("src/test/scala/graft/GraphsReliableSpec.scala")
             == "graft.GraphsReliableSpec"),
            ("chained package clauses and a final class",
             preship.spec_class(nested) == "graft.deep.NestedSpec"),
            ("a trait is no suite",
             preship.spec_class("src/test/scala/graft/SparkSpec.scala") is None),
            ("an object is no suite",
             preship.spec_class(
                 "src/test/scala/org/apache/spark/ListenerBusAccess.scala") is None),
            ("a deleted spec is not run",
             preship.spec_class(os.path.join(tmp, "GoneSpec.scala")) is None),
            ("changed specs drop deleted and suite-less files",
             preship.changed_specs([
                 "src/test/scala/graft/pipeline/StatusRecordSpec.scala",
                 "src/test/scala/graft/SparkSpec.scala",
                 os.path.join(tmp, "GoneSpec.scala")])
             == {"graft.pipeline.StatusRecordSpec"}),
        ]
    ok = True
    for name, held in cases:
        print(f"selftest {'ok' if held else 'BROKEN'}: {name}")
        ok &= held
    if not ok:
        print(f"collected keys: {sorted(keys)}, types: {sorted(types)}")
        return 1
    print(f"== all {len(cases)} preship cases hold")
    return 0


if __name__ == "__main__":
    sys.exit(main())
