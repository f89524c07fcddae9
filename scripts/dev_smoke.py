"""Dev smoke: corpus → segment → detect → assemble → classify vs gold."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from split_ner_spark.session import get_spark
from split_ner_spark import corpus
from split_ner_spark.ops.segment import segment_pages, extracted_text
from split_ner_spark.ops.detect import detect_spans
from split_ner_spark.ops.assemble import assemble_untyped
from split_ner_spark.ops.classify import classify_mentions

spark = get_spark(cpus=8)
pg = corpus.gen_pages_with_gold(spark, 300).cache()
pages = corpus.pages(pg)
gold = corpus.gold_mentions(pg).cache()
print("pages:", pages.count(), "gold mentions:", gold.count())
pages.show(3, truncate=80)

sents = segment_pages(pages)
det = detect_spans(sents)
men = assemble_untyped(det)
typed = classify_mentions(men).cache()
print("detected mentions:", typed.count())
typed.show(10, truncate=60)

# detect-stage P/R (span match on url, sent_id, start, end)
keys = ["url", "sent_id", "start", "end"]
tp = typed.join(gold, keys, "left_semi").count()
fp = typed.join(gold, keys, "left_anti").count()
fn = gold.join(typed, keys, "left_anti").count()
print(f"detect: tp={tp} fp={fp} fn={fn} P={tp/(tp+fp):.4f} R={tp/(tp+fn):.4f}")

# classify accuracy on matched spans
m = typed.join(gold.select(*keys, F.col("entity_type").alias("gold_type")), keys)
acc = m.filter(F.col("entity_type") == F.col("gold_type")).count() / max(m.count(), 1)
print(f"classify acc on matched: {acc:.4f}")
m.filter(F.col("entity_type") != F.col("gold_type")).show(10, truncate=50)

# byte identity: extracted == generated text
ext = extracted_text(pages)
bad = (
    ext.join(pages.select("url", "text"), "url")
    .filter(F.col("text_extracted") != F.col("text"))
    .count()
)
print("extract mismatches:", bad)
spark.stop()
