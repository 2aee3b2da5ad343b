"""Readers: the touch binary scan, the ordered parquet scan, the
SONATA ``.h5`` readers, text files and WARC.  Import each name from
its defining module."""
