"""pdfsearch_spark — a PySpark-native full-text inverted-index + BM25 engine.

A from-scratch re-creation of the query and data-processing capabilities of
``abiiranathan/pdfsearch`` (a Go web app that delegates all search to SQLite
FTS5, reference DDL at ``database/database.go:59-66``), re-expressed
Spark-first over a Common-Crawl-style web-page corpus
``(url, warc_ts, html, text, lang)``:

- vectorized Arrow/pandas UDF HTML→text extraction, byte-identical per url to
  the reference extractor semantics (``pdf/pdf.go:226-254``)
- unicode61 + remove_diacritics-2 + Porter tokenization, token-identical to
  the FTS5 tokenizer behind the reference DDL
- a shard-grouped build: one exchange carries the raw pages clustered by
  doc-id shard, and delta-gap + varint-compressed posting lists with
  per-block max-score metadata are encoded map-side from the shard-clustered
  text, so Zipfian head terms split evenly across shards by construction
- BM25 (k1=1.2, b=0.75, FTS5 idf clamp) top-k over every hit, scored
  exhaustively as FTS5 does, rank-identical to the SQLite FTS5 oracle
- training-data pipeline operators (dedup, similarity search, text analysis,
  multimodal plumbing) for 100 TB-scale corpus preparation
"""

import os as _os
import zipimport as _zipimport

__version__ = "0.1.0"


def _stat_stamp_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython 3.11 that re-reads the whole directory of
    ``pyspark.zip`` (~1300 entries) once per zip importer on ``sys.path``
    (one per package imported from it, 16 in a worker): 130-300 ms of fixed
    cost per task, paid by every pandas-UDF stage of every build and query.
    The archive does not change while a worker lives, so the directory is
    re-read only when the archive's ``(mtime_ns, size, inode)`` differs from
    its stat taken just before the directory was last read; a rewritten zip
    is still picked up. Installed on package import because unpickling any
    engine or build function imports the package, and workers are reused.
    """
    cls = _zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_stamped", False):
        return
    read_directory, reread = _zipimport._read_directory, cls.invalidate_caches
    stamps = {}  # archive path -> stat stamp of its cached directory

    def stamp(archive):
        try:
            st = _os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def stamped_read_directory(archive):
        # stat BEFORE reading: a change during the read then shows as a
        # stale stamp (one extra re-read), never as a stale directory
        s = stamp(archive)
        files = read_directory(archive)
        stamps[archive] = s
        return files

    def invalidate_caches(self):
        s = stamp(self.archive)
        files = _zipimport._zip_directory_cache.get(self.archive)
        if s is None or files is None or stamps.get(self.archive) != s:
            reread(self)
        else:
            self._files = files

    invalidate_caches.stat_stamped = True
    _zipimport._read_directory = stamped_read_directory
    cls.invalidate_caches = invalidate_caches


_stat_stamp_zipimport()
