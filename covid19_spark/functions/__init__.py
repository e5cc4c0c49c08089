"""Scalar column functions of the reference helpers."""
