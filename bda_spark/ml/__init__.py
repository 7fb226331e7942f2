"""pyspark.ml surface (SURVEY.md §2.10 D3-D7).

- persistence: pointer-file model store (save/load/current) replacing the
  reference's per-batch disk reload; the streaming trainer's linear fit
  is stored as a JSON coefficient document that scores as one
  expression
- tournament: LR/RF/GBT model tournament with RMSE/MAE/R2 evaluation and
  the old-vs-new deploy gate
"""
