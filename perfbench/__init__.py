"""Benchmark of the engine's production ingest path and IoT read surface."""
