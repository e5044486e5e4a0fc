"""Seeded table generation: same seed, same bytes; new seed, new data."""
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

import gen


def _snapshot(d):
    return {p.name: pq.read_table(p).to_pylist() for p in sorted(Path(d).glob("*.parquet"))}


class GenTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write(a, 0.001, 11)
            gen.write(b, 0.001, 11)
            self.assertEqual(_snapshot(a), _snapshot(b))

    def test_other_seed_other_events(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write(a, 0.001, 11, {"events"})
            gen.write(b, 0.001, 12, {"events"})
            self.assertNotEqual(_snapshot(a), _snapshot(b))

    def test_engine_schema(self):
        with tempfile.TemporaryDirectory() as a:
            gen.write(a, 0.001, 3)
            names = {p.stem for p in Path(a).glob("*.parquet")}
            self.assertEqual(names, set(gen.ALL))
            ev = pq.read_schema(Path(a) / "events.parquet")
            self.assertEqual(ev.names, ["event_id", "ts", "user_id", "event_type", "value", "props"])
            self.assertEqual(str(ev.field("ts").type), "timestamp[us]")
            li = pq.read_schema(Path(a) / "lineitem.parquet")
            self.assertEqual(str(li.field("l_linenumber").type), "int32")


if __name__ == "__main__":
    unittest.main()
