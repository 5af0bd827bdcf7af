"""Build lectura.zip for `spark-submit --py-files` (B:14 packaging).

Usage: python scripts/build_zip.py [out.zip]
Produces a zip containing the `lectura` package (sources only) that a
cluster submit ships to every executor:

    spark-submit --py-files lectura.zip \
        --packages org.apache.iceberg:iceberg-spark-runtime-4.1_2.13:1.8.1 \
        crawl_submit.py --corpus ... --warehouse ... --rounds R --use-bloom

(crawl_submit.py = a 3-line driver: `from lectura.crawl import main;
main()` — spark-submit needs a file, `-m` is not supported.)
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str) -> str:
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, "lectura")):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    return out


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "lectura.zip")
    print(build(out))
