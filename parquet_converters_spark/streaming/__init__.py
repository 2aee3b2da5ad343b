"""Structured Streaming pipelines over the events table.  Import each
name from its defining module."""
