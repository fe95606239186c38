"""Build the benchmark's fixed corpus: the repo's scale-data generator
at sf0.1 (lineitem ~600k rows, 5000 documents, 2000 embeddings), written
to a temporary directory and renamed into place when complete.

    python3 perfbench/datagen.py perfbench/.data/sf0.1

The corpus is seed-independent; each workload draws its literals,
samples and batches from its own --seed.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys

SF = 0.1


def main(out_dir: str) -> int:
    bench = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(bench)
    sys.path.insert(0, root)
    sys.path.insert(0, bench)
    from common import start_session, stop_session

    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join(root, "scripts", "gen_scale_data.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = start_session()
    try:
        gen.generate(spark, SF, tmp)
    finally:
        stop_session(spark)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    open(os.path.join(out_dir, "_COMPLETE"), "w").close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
