from .binary import read_binary_assets
from .jsonl import read_jsonl, write_jsonl
from .text import write_text_output

__all__ = [
    "read_binary_assets",
    "read_jsonl",
    "write_jsonl",
    "write_text_output",
]
