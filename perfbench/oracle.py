"""DuckDB oracle check of full query results, in a separate process.

The parent streams ``(name, pandas result)`` pairs over stdin as
pickles; this process runs each query's DuckDB oracle over the same
parquet tables and compares the two results with the engine's
order-insensitive result hash (``scripts/driver_sim.norm_hash``).  It
prints one JSON object: ``{"rows": {name: n}, "mismatch": [...]}``.
Running in a process of its own lets the oracle and the hashing overlap
the engine's work on the next query.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pickle
import queue
import subprocess
import sys
import threading


def _norm_hash():
    """The order-insensitive result hash of the engine's oracle check."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(root, "scripts", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm_hash


class OracleProcess:
    """Parent side: start the checker, feed it results, collect verdicts.

    Results are pickled on the caller's thread and written to the pipe
    by a writer thread, so the caller never waits for the checker.
    """

    def __init__(self, sf_dir: str, tables: list[str], oracles: dict[str, str]):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self.queue: queue.Queue[bytes | None] = queue.Queue()
        self.writer = threading.Thread(target=self._write, daemon=True)
        self.writer.start()
        self._submit((sf_dir, tables, oracles))

    def _write(self) -> None:
        while (chunk := self.queue.get()) is not None:
            self.proc.stdin.write(chunk)
        self.proc.stdin.close()

    def _submit(self, obj) -> None:
        self.queue.put(pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL))

    def submit(self, name: str, result) -> None:
        self._submit((name, result))

    def verdicts(self) -> dict:
        """Wait for every check; ``{"rows": {...}, "mismatch": [...]}``."""
        self.queue.put(None)
        out = self.proc.stdout.read()
        self.writer.join(timeout=120)
        if self.proc.wait(timeout=120) != 0:
            raise RuntimeError(f"oracle process exited with {self.proc.returncode}")
        return json.loads(out)

    def __enter__(self) -> "OracleProcess":
        return self

    def __exit__(self, *exc) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait(timeout=30)


def main() -> int:
    import duckdb

    stdin = sys.stdin.buffer
    sf_dir, tables, oracles = pickle.load(stdin)
    norm_hash = _norm_hash()
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    rows, mismatch = {}, []
    while True:
        try:
            name, got = pickle.load(stdin)
        except EOFError:
            break
        want = con.execute(oracles[name]).df()
        rows[name] = len(want)
        if len(got) != len(want) or norm_hash(got) != norm_hash(want):
            mismatch.append(
                f"{name}: result hash differs from its DuckDB oracle"
                f" ({len(got)} vs {len(want)} rows)"
            )
    con.close()
    print(json.dumps({"rows": rows, "mismatch": mismatch}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
