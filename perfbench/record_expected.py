"""Record the expected row count and digest of every join query, at the
benchmark's full and self-test sizes, into expected.json.

    PYTHONPATH=. python3 -m perfbench.record_expected

Run it only on a commit whose outputs are trusted: every benchmark run
compares its outputs against these values.
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

from . import harness


def main() -> int:
    out = {}
    with tempfile.TemporaryDirectory(dir=harness.HERE.parent) as tmp:
        spark = harness.start_session(Path(tmp), trace=False)
        try:
            run = harness.Run(spark, Path(tmp), None)
            for label, sizes in (("full", harness.FULL), ("tiny", harness.TINY)):
                wl = harness.JoinWorkload(run, 0, sizes, None)
                wl.load()
                ops = wl.run_pass()["ops"]
                if run.failed:
                    return 1
                out[label] = {q: {"rows": r["rows"], "digest": r["digest"]}
                              for q, r in ops.items()}
        finally:
            spark.stop()
    (harness.HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
