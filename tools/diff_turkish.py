"""Diff the Turkish stemmer against the PostgreSQL goldens; print the
first N mismatches (word, expected, got) for iteration."""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from palladian_spark.kernels.stem_turkish import turkish_stem

limit = int(sys.argv[1]) if len(sys.argv) > 1 else 40
bad = 0
total = 0
shown = 0
with open(os.path.join(ROOT, "tests", "fixtures", "turkish_stem_golden.tsv"),
          encoding="utf-8") as f:
    for line in f:
        if line.startswith("#"):
            continue
        word, want = line.rstrip("\n").split("\t")
        total += 1
        got = turkish_stem(word)
        if got != want:
            bad += 1
            if shown < limit:
                print(f"{word}\t want={want}\t got={got}")
                shown += 1
print(f"\n{bad}/{total} mismatches")
