"""The benchmark workloads.

Each workload is a closed loop with one client: one driver thread issues
every query after the previous one has finished. A *pass* runs each of the
workload's steps once, in order. A step is one registry query forced
through the ``noop`` sink, or one ``mr.runner.run_job`` call. Every step
belongs to a layer named after the engine module family it exercises.

- ``olap_stream``: TPC-H Q3 (three-table join, aggregate, top-k) over a
  TPC-H-shaped star schema at sf0.1 (600k ``lineitem`` rows), then the
  inner stream-stream join of clicks and purchases over 100k events, run to
  end of input with Structured Streaming. Executor scan/shuffle/aggregate
  work, micro-batch fixed cost (including the join's no-data batch) and
  RocksDB state commits.
- ``llm_mr``: MinHash LSH near-duplicate pairs on a sf0.05 corpus (2,500
  documents), then the reference's own MapReduce word count through
  ``run_job`` with R=10 output files over seeded Zipf text. Every timed pass
  reads its own salted copy of the corpus, so caches keyed by the input
  directory start cold on every pass, as they would for a new corpus.
  Driver-side plan construction, Arrow pandas-UDF kernels, Python RDD
  workers, the pickled ``groupByKey`` shuffle and a real file sink.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import gen


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[tuple[str, str], ...]  # (layer, query or job)
    sf: float = 0.0  # star schema and events
    tables: tuple[str, ...] = ()  # the generated tables the steps read
    corpus_sf: float = 0.0  # the llm corpus, a fresh salted copy per pass (not with sf)
    mr_files: int = 0
    mr_lines_per_file: int = 0

    @property
    def layers(self) -> tuple[str, ...]:
        return tuple(dict.fromkeys(layer for layer, _ in self.steps))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_stream",
            (
                ("operators", "q3_shipping_priority"),
                ("streaming", "stream_join_click_purchase"),
            ),
            sf=0.1,
            tables=("customer", "orders", "lineitem", "events"),
        ),
        Workload(
            "llm_mr",
            (
                ("llm", "minhash_lsh_pairs"),
                ("mr", "mr_job_cs6210"),
            ),
            tables=("documents",),
            corpus_sf=0.05,
            mr_files=2,
            mr_lines_per_file=5_000,
        ),
    )
}

LAYERS = ("operators", "llm", "streaming", "mr")

# Output files per MapReduce job, as in the reference's test/config.ini.
MR_OUTPUT_FILES = 10


def tiny(w: Workload) -> Workload:
    """The same workload on inputs small enough for a smoke test."""
    return replace(
        w,
        sf=w.sf and 0.002,
        corpus_sf=w.corpus_sf and 0.01,
        mr_lines_per_file=min(w.mr_lines_per_file, 400),
    )


class Inputs:
    """Generated inputs of one run, under ``root``.

    Pass 0 is the warm-up pass; its outputs are the ones checked for
    correctness. Every pass reads full-size inputs. A workload with a
    corpus gets a new salted copy of it per pass, written before the pass
    starts, outside the timed region; the others read one directory."""

    def __init__(self, w: Workload, seed: int, root: str):
        self.w, self.seed, self.root = w, seed, root
        self.rows = 0  # rows one pass reads
        self.bytes = 0
        self._corpus = None
        self.copies: dict[int, dict] = {}
        self.mr_config = ""
        self.mr_text: list[str] = []

    def pass_dir(self, k: int) -> str:
        """The table directory the registry queries of pass ``k`` read."""
        if self.w.corpus_sf:
            return os.path.join(self.root, f"{self.w.name}_s{self.seed}_p{k}")
        return os.path.join(self.root, f"{self.w.name}_s{self.seed}")

    def generate(self) -> None:
        w, seed = self.w, self.seed
        if w.sf:
            tables = {k: v for k, v in gen.tpch_tables(w.sf, seed).items() if k in w.tables}
            if "events" in w.tables:
                tables["events"] = gen.events_table(w.sf, seed)
            self.rows += gen.write_tables(self.pass_dir(0), tables)
            self.bytes += _dir_bytes(self.pass_dir(0))
        if w.corpus_sf:
            self._corpus = gen.base_corpus(w.corpus_sf, seed)
            copy = self.prepare_pass(0)
            self.rows += sum(t.num_rows for t in copy.values())
            self.bytes += _dir_bytes(self.pass_dir(0))
        if w.mr_files:
            self._generate_mr()

    def prepare_pass(self, k: int) -> dict:
        """Write pass ``k``'s salted corpus copy (no-op without a corpus).
        Only the warm-up copy is kept in memory, for the checks."""
        if not self.w.corpus_sf or k in self.copies:
            return {}
        copy = {t: v for t, v in gen.salted_corpus(self._corpus, self.seed, k).items()
                if t in self.w.tables}
        gen.write_tables(self.pass_dir(k), copy)
        self.copies[k] = copy if k == 0 else {}
        return copy

    def _generate_mr(self) -> None:
        w = self.w
        mr_dir = os.path.join(self.root, "mr")
        self.mr_text = gen.mr_text_files(
            os.path.join(mr_dir, "text"), self.seed, w.mr_files, w.mr_lines_per_file
        )
        self.rows += w.mr_files * w.mr_lines_per_file
        self.bytes += sum(os.path.getsize(p) for p in self.mr_text)
        user_id, n_workers = "cs6210", 5
        self.mr_config = os.path.join(mr_dir, f"config_{user_id}.ini")
        # About 8 input splits (map tasks), two per core.
        size_kb = max(sum(os.path.getsize(p) for p in self.mr_text) // 1024 // 8, 1)
        with open(self.mr_config, "w", encoding="utf-8") as fh:
            fh.write(
                f"n_workers={n_workers}\n"
                "worker_ipaddr_ports="
                + ",".join(f"localhost:{50051 + i}" for i in range(n_workers))
                + "\n"
                f"input_files={','.join(self.mr_text)}\n"
                f"output_dir={os.path.join(mr_dir, 'out_' + user_id)}\n"
                f"n_output_files={MR_OUTPUT_FILES}\n"
                f"map_kilobytes={size_kb}\n"
                f"user_id={user_id}\n"
            )


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
