"""lectura-spark: PySpark-native URL-frontier + fetch scheduler + extractor.

A brand-new rebuild (not a port) of the crawl capabilities specified by
/root/repo/BASELINE.json (the reference checkout at /root/reference was
empty at survey time — see SURVEY.md §0). Semantics frozen in SEMANTICS.md.
"""

__version__ = "0.1.0"

from lectura.pyworker import install as _install_pyworker

_install_pyworker()
