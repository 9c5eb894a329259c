"""mashing-pumpkins-spark: a PySpark-native near-duplicate detection engine.

Re-expresses the capabilities of ``lgautier/mashing-pumpkins`` (bottom-k /
top-k MinHash sketches over byte shingles, mergeable sketch algebra, set
similarity estimators) as an idiomatic Spark DataFrame pipeline:

    pages -> extract -> sketch (vectorized pandas UDF, bit-compatible with
    the reference's XXH64 / MurmurHash3-x64-128-low64 kernels) -> LSH bands
    -> candidate pairs (salted band join) -> exact sketch-Jaccard verify ->
    iterative connected-components clustering, checkpointed per stage.

Nothing here is a port: the reference is a single-process heap library; this
engine is a declarative Spark plan whose only custom kernels are the
vectorized numpy hash/sketch functions inside Arrow-batched pandas UDFs.
"""

import os
import zipimport

__version__ = "0.1.0"


def _invalidate_if_changed(self, reread=zipimport.zipimporter.invalidate_caches) -> None:
    """A PySpark worker calls importlib.invalidate_caches() before every task,
    and CPython 3.11's zipimporter then re-reads its archive's whole directory:
    ~0.2 CPU-s per task over pyspark.zip. Re-read only a changed archive."""
    st = os.stat(self.archive) if os.path.isfile(self.archive) else None
    stamp = st and (st.st_mtime_ns, st.st_size)
    if not stamp or stamp != getattr(self, "_stamp", None):
        reread(self)
        self._stamp = stamp


# every library UDF imports this package in its worker
zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
