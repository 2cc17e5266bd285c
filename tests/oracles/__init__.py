"""Executable specs for the engine's fast paths: slow, plain reference
implementations that the differential tests compare production against.
Nothing here is imported by ``pii_core`` or ``pii_spark``."""
