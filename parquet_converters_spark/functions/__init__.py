"""Corpus and media functions: text scoring, dedup, media codecs and
fingerprints.  Import each name from its defining module."""
