"""Inverted index: posting-list codec (delta gaps, varint or
PForDelta per stream, block-max stats),
partition-checkpointed build with salted hot-term merge, and Block-Max
WAND query-time pruning."""
