package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Context

/** Golden string-heavy end-to-end pipeline mirroring the reference's
  * Zillow Z1 cleaning job (`benchmarks/zillow/Z1/runtuplex.py:12-60`,
  * `test/core/FullPipelines.cc:607`): csv → extractBd (+resolver) →
  * filter → extractType → filter → zipcode format → city case-fix →
  * extractBa → extractSqft → extractOffer → extractPrice (full-row map
  * with three offer branches) → price filter → select → tocsv → read
  * back. A deterministic listings CSV is synthesized from `orders`
  * (quoted facts fields with embedded commas, `\$1,234`-style prices,
  * malformed "studio" rows that must flow through the resolver), so the
  * DuckDB oracle can recompute every output row semantically — the hash
  * only matches if each string extraction exactly inverts the
  * formatting. */
object ZillowOps {

  private val Cities = Seq("bOSTON", "new YORK", "seaTTLe", "ausTIN", "denVER")

  val all: Seq[Q] = Seq(
    Q("q_zillow_golden", {
      val cities = Cities.map(c => s"'$c'").mkString("[", ",", "]")
      s"""WITH src AS (
         |  SELECT o_orderkey AS k, CAST(floor(o_totalprice) AS INT) AS p
         |  FROM orders),  -- floor: Spark's double->int cast truncates, DuckDB's rounds
         |d AS (SELECT k, p,
         |  CASE WHEN k % 50 = 0 THEN 0 ELSE CAST(k % 12 AS INT) END AS bedrooms,
         |  CAST(k % 4 + 1 AS INT) AS bathrooms,
         |  CAST(500 + k % 3000 AS INT) AS sqft,
         |  CASE k % 4 WHEN 0 THEN 'House For Sale' WHEN 1 THEN 'Condo For Rent'
         |    WHEN 2 THEN 'House Sold' ELSE 'Apartment For Sale' END AS title,
         |  $cities[CAST(k % 5 AS INT) + 1] AS rawcity,
         |  k % 99999 AS postal
         |  FROM src),
         |e AS (SELECT *,
         |  CASE WHEN contains(lower(title), 'sale') THEN 'sale'
         |       WHEN contains(lower(title), 'rent') THEN 'rent'
         |       WHEN contains(lower(title), 'sold') THEN 'sold' END AS offer,
         |  CASE WHEN contains(lower(title), 'house') THEN 'house'
         |       WHEN contains(lower(title), 'condo')
         |         OR contains(lower(title), 'apartment') THEN 'condo'
         |       ELSE 'unknown' END AS type
         |  FROM d),
         |f AS (SELECT *,
         |  CAST(CASE offer WHEN 'rent' THEN p // 100
         |       WHEN 'sold' THEN (p // sqft) * sqft ELSE p END AS INT) AS price
         |  FROM e)
         |SELECT 'https://ex.com/' || k AS url,
         |  lpad(CAST(postal AS VARCHAR), 5, '0') AS zipcode,
         |  k || ' Main St' AS address,
         |  upper(substr(rawcity, 1, 1)) || lower(substr(rawcity, 2)) AS city,
         |  'MA' AS state, bedrooms, bathrooms, sqft, offer, type, price
         |FROM f
         |WHERE bedrooms < 10 AND type = 'house'
         |  AND price > 100000 AND price <= 20000000""".stripMargin
    }) { (s, d) =>
      val ctx = new Context(s)
      val root = TempDirs.tempDir("graft_zillow")
      // the dirty listings csv is pipeline INPUT (the reference's Z1 job
      // reads an existing listings file), Staged per source dir; the
      // pipeline itself — csv parse → 9 cleaning ops → resolver →
      // full-row price map → tocsv sink → read-back — runs on every call
      val listings = Staged.dir(d, "graft_zillow_in") { w =>

      // ---- synthesize the dirty listings csv (deterministic from orders) --
      val k = col("o_orderkey")
      val p = col("o_totalprice").cast("int")
      val bd = (k % 12).cast("int")
      val ba = (k % 4 + 1).cast("int")
      val sqft = (lit(500) + k % 3000).cast("int")
      val title = when(k % 4 === 0, "House For Sale")
        .when(k % 4 === 1, "Condo For Rent")
        .when(k % 4 === 2, "House Sold")
        .otherwise("Apartment For Sale")
      val offer = when(k % 4 === 1, "rent").when(k % 4 === 2, "sold")
        .otherwise("sale")
      val ppsf = floor(p / sqft).cast("long") // == `//` for positives
      val sqftStr = format_number(sqft, 0) // "1,234" — comma-grouped
      val factsBase = when(k % 50 === 0,
          concat(lit("studio , "), ba, lit(" ba , "), sqftStr, lit(" sqft")))
        .otherwise(concat(bd, lit(" bds , "), ba, lit(" ba , "), sqftStr, lit(" sqft")))
      val facts = when(offer === "sold",
          concat(factsBase, lit(" , Price/sqft: $"), ppsf)).otherwise(factsBase)
      val priceStr = when(offer === "rent",
          concat(lit("$"), format_number(floor(p / 100).cast("long"), 0), lit("/mo")))
        .otherwise(concat(lit("$"), format_number(p, 0)))
      // write the fixture in multiple parts: small csvs are one split each,
      // so a single part would serialize the whole downstream scan
      Tables(s, d, "orders").repartition(16).select(
          concat(lit("https://ex.com/"), k).as("url"),
          (k % 99999).cast("int").as("postal"),
          concat(k, lit(" Main St")).as("address"),
          element_at(typedLit(Cities), (k % 5).cast("int") + 1).as("city"),
          lit("MA").as("state"),
          facts.as("facts"),
          title.as("title"),
          priceStr.as("price"))
        .write.option("header", "true").mode("overwrite").csv(s"$w/listings")
      }

      // ---- the Z1 pipeline through the graft api --------------------------
      val out = s"$root/clean"
      val rawListings = ctx.csv(s"$listings/listings/*.csv",
          header = Some(true), delimiter = Some(","))
      val cleaned = rawListings
        .withColumnUdf[String, Int]("bedrooms", col("facts")) { f =>
          val i = f.indexOf(" bd")
          val s0 = if (i < 0) f else f.substring(0, i)
          val j = s0.lastIndexOf(',')
          (if (j < 0) s0 else s0.substring(j + 2)).trim.toInt // "studio" rows throw
        }
        .resolve(classOf[NumberFormatException])((_: String) => 0)
        .filter(col("bedrooms") < 10)
        .withColumnUdf[String, String]("type", col("title")) { t0 =>
          val t = t0.toLowerCase
          var ty = "unknown"
          if (t.contains("condo") || t.contains("apartment")) ty = "condo"
          if (t.contains("house")) ty = "house"
          ty
        }
        .filter(col("type") === "house")
        .withColumnUdf[Int, String]("zipcode", col("postal"))(pz => f"$pz%05d")
        .mapColumnUdf[String, String]("city")(c =>
          c.substring(0, 1).toUpperCase + c.substring(1).toLowerCase)
        .withColumnUdf[String, Int]("bathrooms", col("facts")) { f =>
          val i = f.indexOf(" ba")
          val s0 = if (i < 0) f else f.substring(0, i)
          val j = s0.lastIndexOf(',')
          (if (j < 0) s0 else s0.substring(j + 2)).trim.toInt
        }
        .withColumnUdf[String, Int]("sqft", col("facts")) { f =>
          val i = f.indexOf(" sqft")
          val s0 = if (i < 0) f else f.substring(0, i)
          val j = s0.lastIndexOf("ba ,")
          (if (j < 0) s0 else s0.substring(j + 5)).replace(",", "").trim.toInt
        }
        .withColumnUdf[String, String]("offer", col("title")) { t0 =>
          val t = t0.toLowerCase
          if (t.contains("sale")) "sale"
          else if (t.contains("rent")) "rent"
          else if (t.contains("sold")) "sold"
          else if (t.contains("foreclose")) "foreclosed"
          else t
        }

      // extractPrice reads offer+price+facts+sqft — the full-row map case
      val priced = {
        val cs = cleaned.columns
        val outSchema = StructType(
          cleaned.schema.fields.map(f0 =>
            if (f0.name == "price") StructField("price", IntegerType) else f0))
        cleaned.mapRows(outSchema) { r =>
          val offer = r.getAs[String]("offer")
          val praw = r.getAs[String]("price")
          val facts = r.getAs[String]("facts")
          val sqft = r.getAs[Int]("sqft")
          val price = offer match {
            case "sold" =>
              val i = facts.indexOf("Price/sqft: $") + "Price/sqft: $".length
              facts.substring(i).trim.toInt * sqft
            case "rent" =>
              praw.substring(1, praw.lastIndexOf('/')).replace(",", "").toInt
            case _ =>
              praw.substring(1).replace(",", "").toInt
          }
          Row.fromSeq(cs.map {
            case "price" => price
            case c => r.getAs[Any](c)
          })
        }
      }
      val sink = priced
        .filter(col("price") > 100000 && col("price") <= 20000000)
        .selectColumns(Seq("url", "zipcode", "address", "city", "state",
          "bedrooms", "bathrooms", "sqft", "offer", "type", "price"))
      // scale-adaptive sink width (r15): the pinned 4 parts made the
      // sf10 write a 4-task stage (3.4 s of the 11.7 s wall, 28 cores
      // idle). Sized from the LISTINGS FIXTURE's real on-disk bytes —
      // both the sink plan and the api csv scan run through row-mapping
      // UDFs whose optimizer stats are the unknown sentinel (measured:
      // ~e19), while the fixture bytes upper-bound the output. 4 parts
      // at sf0.1 exactly as before; cores-wide once each writer has
      // ≥16 MB to format. Sized through the Hadoop FileSystem, so the
      // fixture may live on any filesystem.
      sink.tocsv(out, numParts = Scale.sinkPartsOf(s, Scale.pathBytes(s, s"$listings/listings")))

      // read the sink back — the oracle hashes the finished artifact
      ctx.csv(s"$out/*.csv", header = Some(true), delimiter = Some(","),
        typeHints = Map("zipcode" -> StringType)).toDF
    }
  )
}
