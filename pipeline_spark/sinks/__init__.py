"""Sink modules; ``registry.get_module`` imports each on first use."""
