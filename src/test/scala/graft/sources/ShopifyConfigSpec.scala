package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ShopifyConfigSpec extends AnyFunSuite {

  private def credsFile(json: String) = {
    val p = Files.createTempFile("creds", ".json")
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
    p.toFile.deleteOnExit()
    p
  }

  test("env is the primary source; api_version default matches the reference") {
    val env = Map(
      "SHOPIFY_RETAIL_SHOP_NAME" -> "acme-retail",
      "SHOPIFY_RETAIL_ACCESS_TOKEN" -> "shpat_r")
    val c = ShopifyConfig.load("retail", env)
    assert(c.shopName == "acme-retail" && c.accessToken == "shpat_r")
    assert(c.apiVersion == ShopifyConfig.DefaultApiVersion) // extract_table.py:40
    assert(c.shopDomain == "acme-retail.myshopify.com")     // extract_table.py:42
  }

  test("file fallback fires when env is missing or PARTIAL (all-or-nothing primary)") {
    val p = credsFile(
      """{"wholesale_shop_name": "acme-w", "wholesale_access_token": "shpat_w",
        | "api_version": "2023-07"}""".stripMargin)
    // missing env entirely
    val c1 = ShopifyConfig.load("wholesale", Map.empty, Some(p))
    assert(c1.shopName == "acme-w" && c1.apiVersion == "2023-07")
    // partial env (name without token) must NOT half-apply
    val c2 = ShopifyConfig.load("wholesale",
      Map("SHOPIFY_WHOLESALE_SHOP_NAME" -> "env-name"), Some(p))
    assert(c2.shopName == "acme-w" && c2.accessToken == "shpat_w")
  }

  test("per-store key prefixes select independent credentials from one file") {
    val p = credsFile(
      """{"retail_shop_name": "r", "retail_access_token": "tr",
        | "wholesale_shop_name": "w", "wholesale_access_token": "tw"}""".stripMargin)
    assert(ShopifyConfig.load("retail", Map.empty, Some(p)).shopName == "r")
    assert(ShopifyConfig.load("wholesale", Map.empty, Some(p)).shopName == "w")
  }

  test("neither source → loud error naming both spellings") {
    val e = intercept[IllegalArgumentException] {
      ShopifyConfig.load("retail", Map.empty, None)
    }
    assert(e.getMessage.contains("SHOPIFY_RETAIL_SHOP_NAME"))
    assert(e.getMessage.contains("retail_shop_name"))
  }

  test("a client constructs from each source (S11 closes the credential story)") {
    val transport = new ShopifyClient.Transport {
      var lastUrl = ""
      def post(url: String, body: String, headers: Map[String, String]): String = {
        lastUrl = url
        """{"data": {"orders": {"edges": [],
          |  "pageInfo": {"hasNextPage": false, "endCursor": null}}}}""".stripMargin
      }
    }
    val fromEnv = ShopifyConfig.client(
      ShopifyConfig.load("retail", Map(
        "SHOPIFY_RETAIL_SHOP_NAME" -> "r",
        "SHOPIFY_RETAIL_ACCESS_TOKEN" -> "t",
        "SHOPIFY_API_VERSION" -> "2025-01")), transport)
    fromEnv.fetchAllPages("query {}", "orders")
    assert(transport.lastUrl ==
      "https://r.myshopify.com/admin/api/2025-01/graphql.json")
    val p = credsFile("""{"retail_shop_name": "f", "retail_access_token": "t2"}""")
    val fromFile = ShopifyConfig.client(
      ShopifyConfig.load("retail", Map.empty, Some(p)), transport)
    fromFile.fetchAllPages("query {}", "orders")
    assert(transport.lastUrl ==
      s"https://f.myshopify.com/admin/api/${ShopifyConfig.DefaultApiVersion}/graphql.json")
  }
}
