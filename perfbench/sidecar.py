"""The benchmark's side process: input generation and the DuckDB checks.

It runs apart from the process that drives Spark, so that the generator's
columns and DuckDB's buffers stay out of the program's measured memory.
It reads one JSON request per line on standard input,
``{"fn": "<inputs|oracle>.<function>", "args": [...]}``, and answers each
with one JSON line, ``{"ok": <result>}`` or ``{"error": <traceback>}``.
``oracle`` functions get the process's DuckDB connection as their first
argument. It exits when its standard input closes.

    python3 perfbench/sidecar.py <duckdb threads> <duckdb temp dir>
"""

from __future__ import annotations

import json
import subprocess
import sys
import traceback


class Sidecar:
    """The driving process's handle on a side process."""

    def __init__(self, threads: int, temp_dir: str):
        self.proc = subprocess.Popen(
            [sys.executable, __file__, str(threads), temp_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.pid = self.proc.pid

    def call(self, fn: str, *args):
        self.proc.stdin.write(json.dumps({"fn": fn, "args": args}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"side process exited during {fn}")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError(f"{fn} failed in the side process:\n"
                               + reply["error"])
        return reply["ok"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        self.proc.stdout.close()


def serve(threads: int, temp_dir: str) -> None:
    import inputs
    import oracle

    db = oracle.connect(threads, temp_dir)
    for line in sys.stdin:
        req = json.loads(line)
        module, name = req["fn"].split(".")
        try:
            if module == "oracle":
                result = getattr(oracle, name)(db, *req["args"])
            elif module == "inputs":
                result = getattr(inputs, name)(*req["args"])
            else:
                raise ValueError(f"unknown module {module!r}")
            reply = {"ok": result}
        except Exception:
            reply = {"error": traceback.format_exc()}
        print(json.dumps(reply), flush=True)
    db.close()


if __name__ == "__main__":
    serve(int(sys.argv[1]), sys.argv[2])
