"""Benchmark of the engine's end-to-end pipeline and its layers; the entry
point is ``perfbench/run.py`` (see ``perfbench/README.md``)."""
