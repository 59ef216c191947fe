"""Repeatable crawl benchmark; entry point perfbench/run.py."""
