"""serd_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the semantics of the streaming RDF library serd
(reference: /root/reference, studied for behavior only) as a
Spark-first pipeline: Turtle/TriG/NTriples/NQuads parsing, CURIE
expansion, RFC-3986 relative-URI resolution, deterministic blank-node
relabeling, and canonical sorted NQuads-equivalent materialization —
all over a DataFrame of multi-turn transcripts
(conv_id, turn_idx, role, text, tool, ts).

Layout:
  nodes        node type tags + triple schema
  chars        Turtle/NTriples character classes (clean-room from the
               W3C Turtle grammar)
  uri          RFC 3986 parser/resolver (vectorizable pure functions)
  escapes      UCHAR/ECHAR unescaping + canonical writer escaping
  env          per-document lexical environment (prefixes + base chain)
  turtle       recursive-descent Turtle/TriG parser (per-document)
  ntriples     line-based NTriples/NQuads parser
  writer       canonical NQuads/NTriples line formatter
  writer_serdi the abbreviating Turtle/TriG writer (serd's, byte-exact)
  operators/   Spark DataFrame stages (parse, expand, canonicalize,
               materialize, dedup, similarity, text)
  pipeline     end-to-end KG job with checkpoints/lineage/metrics
  transcripts  deterministic synthetic transcript corpus generator
  streaming/   foreachBatch incremental parse (whole conversations
               per micro-batch)
"""

__version__ = "0.1.0"


def _guard_zip_invalidate_caches() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive changed.

    pyspark's ``worker.main`` calls ``importlib.invalidate_caches()``
    on every task (``setup_spark_files``).  On CPython < 3.13 each
    ``zipimporter`` on ``pyspark.zip`` (one per package path, 16 of
    them) then re-parses the archive's whole central directory, about
    245 ms of CPU per task before any engine code runs.  CPython 3.13
    made the reload lazy (``invalidate_caches`` only drops the cached
    directory), so the guard is installed only below it.  Every engine
    UDF's worker imports this package, so the guard is live from the
    worker's second task on.  An archive whose
    ``(st_mtime_ns, st_size, st_ino)`` changed is still re-read."""
    import sys

    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    cache = getattr(zipimport, "_zip_directory_cache", None)
    reload = zipimport.zipimporter.invalidate_caches
    if cache is None or getattr(reload, "_serd_guard", False):
        return
    stamps: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reload(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        # a failed read drops the archive from the cache, so the next
        # call reads it again whatever its stamp
        if stamps.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]
            return
        reload(self)
        stamps[self.archive] = stamp

    invalidate_caches._serd_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidate_caches()
