"""Operator library: pure DataFrame -> DataFrame functions.

Each operator is written against unbounded semantics where meaningful, so the
same function body composes into both batch jobs and Structured Streaming
queries; sources and sinks bind at the edges (SURVEY §7.1).
"""
