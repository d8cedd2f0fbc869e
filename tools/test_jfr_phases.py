"""tools/jfr_phases.py on a tiny synthetic dump.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jfr_phases as jp  # noqa: E402


def sample(thread, *frames):
    body = "\n".join(f"    {f} line: 1" for f in frames)
    return (f"jdk.ExecutionSample {{\n  startTime = 23:00:00.000 (2026-10-19)\n"
            f'  sampledThread = "{thread}" (javaThreadId = 9)\n  state = "STATE_RUNNABLE"\n'
            f"  stackTrace = [\n{body}\n    ...\n  ]\n}}\n")


WORKER = "Executor task launch worker for task 1.0 in stage 3.0 (TID 7)"
STAGE = "org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIteratorForCodegenStage2"

DUMP = "".join([
    # The hash map under a codegen stage, under the old update's loop.
    sample(WORKER, "org.apache.spark.unsafe.Platform.copyMemory(Object, long, Object, long, long)",
           STAGE + "$hashAgg_FastHashMap_0.findOrInsert(long)",
           STAGE + ".processNext()",
           "graft.engine.VertexState$.merge(VertexState, Iterator)"),
    # A codegen stage's own frame.
    sample(WORKER, STAGE + ".processNext()", "graft.engine.VertexState$.merge(VertexState, Iterator)"),
    # A generated projection names no bucket: the fold that called it does.
    sample(WORKER, "org.apache.spark.sql.catalyst.expressions.GeneratedClass$SpecificMutableProjection.apply(Object)",
           "graft.engine.Fold$Buffers.update(int, InternalRow)",
           "graft.engine.EdgeIndex$.fold(EdgeIndex$Part, Frontier$Senders, int, boolean, Fold$Buffers)"),
    sample(WORKER, "graft.engine.EdgeIndex$.fold(EdgeIndex$Part, Frontier$Senders, int, boolean, Fold$Buffers)"),
    # A shared sort under the index build, and a lambda of the build.
    sample(WORKER, "graft.engine.EdgeIndex$.sortedOrder(long[])",
           "graft.engine.EdgeIndex$.merge(Iterator, boolean)"),
    sample(WORKER, "graft.engine.EdgeIndex$.$anonfun$shipped$1(int, Iterator)"),
    sample(WORKER, "graft.engine.Frontier$Select.pack(int, Iterator)"),
    sample(WORKER, "graft.engine.VertexState$.merge(VertexState, Iterator)"),
    sample(WORKER, "org.apache.spark.storage.ShuffleBlockFetcherIterator.next()"),
    sample(WORKER, "java.lang.Object.hashCode()"),
    # Not an executor thread: not counted.
    sample("main", "graft.engine.EdgeIndex$.fold(EdgeIndex$Part, Frontier$Senders, int, boolean, Fold$Buffers)"),
])


class JfrPhasesTest(unittest.TestCase):
    def test_buckets_by_innermost_named_frame(self):
        counts, total = jp.phases(DUMP)
        self.assertEqual(total, 10)
        self.assertEqual(counts, {"hash map": 1, "fold/scatter": 2, "update": 1, "pack": 1,
                                  "index build": 2, "shuffle": 1, "codegen stage": 1,
                                  "other": 1})

    def test_side_by_side(self):
        lines = jp.report([DUMP, sample(WORKER, "graft.engine.Frontier$Packed.senders(Seq)")])
        rows = {line.split("  ")[0]: line.split() for line in lines.splitlines()}
        self.assertEqual(rows["pack"][-4:], ["1", "10.0%", "1", "100.0%"])
        self.assertEqual(rows["executor samples"][-4:], ["10", "100.0%", "1", "100.0%"])


if __name__ == "__main__":
    unittest.main()
