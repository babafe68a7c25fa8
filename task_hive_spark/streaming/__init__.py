"""Structured-Streaming surface: the task lifecycle (SURVEY §2.9) and
the incremental folds beside it.

The reference's dispatcher/worker/monitor triangle is an event-driven
stateful pipeline over etcd watches; here it is one Structured Streaming
job (``lifecycle.py``) over a scripted change-feed (``events.py``).
Every stream reads its input as the chunked parquet file feed of
``feed.py`` (chunk writer, ordered file source, AvailableNow drain, one
memoized run per session); each other module holds one fold and the
builder of its feed: ``stateful.py``, ``timers.py``, ``dedupstream.py``,
``cdcmerge.py``, ``minhashstream.py`` and ``sketchstream.py``.
``socketfeed.py`` drives the lifecycle fold from a socket or Kafka
instead.
"""
